package graft.etl

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ETL corpus derived from the driver-generated `documents`
  * table: one ProcessDocumentRequest-shaped row per document
  * (FIXTURES.md §1) with a synthetic OCR body whose extractable fields
  * are pure functions of doc_id.
  *
  * The SAME derivation is written as a DuckDB CTE in
  * [[graft.oracle.OracleCorpus]] — every string built here must match that
  * SQL byte-for-byte, because the driver hash-compares query outputs.
  *
  * Type/route mapping mirrors the reference router
  * (workflow_orchestator.py:61-71): REGISTRATION→inscripciones,
  * APPRAISAL→tasaciones, everything else→polizas.
  */
object Corpus {
  val DocTypes: Seq[String] =
    Seq("POLICY", "APPRAISAL", "REGISTRATION", "DEFAULT", "REGULATORY", "INTERNAL")
  val MonthNames: Seq[String] = Seq(
    "Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
    "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre")

  private def s(c: Column): Column = c.cast("string")

  /** Request rows + synthetic bodies. Columns:
    * doc_id, record_id, parent_id, session_id, document_type, route,
    * month_name, period_year, key, d1 (a dd/MM/yyyy date), body,
    * npages, pages (1..3 page texts; registrations get one Partida per
    * page — the F2 fan-out shape, textract_extractor_document.py:46-56).
    * A keyed pooled handle: after the first call per dataset and
    * shuffle partition count (the count the corpus is repartitioned
    * to), every call returns the same cached DataFrame without
    * building it.
    */
  def requests(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.CachePool.cached(spark, sfDir, "requests")(build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    // raw scan: the repartition(doc_id) below is this corpus's
    // parallelism source; Tables' round-robin guard would just add an
    // extra exchange in front of it
    val docs = Tables.raw(spark, sfDir, "documents")
    val id = col("doc_id")
    val dtype = element_at(typedlit(DocTypes), (id % 6 + 1).cast("int"))
    val route = when(col("document_type") === "REGISTRATION", lit("inscripciones"))
      .when(col("document_type") === "APPRAISAL", lit("tasaciones"))
      .otherwise(lit("polizas"))
    val monthName = element_at(typedlit(MonthNames), (id % 12 + 1).cast("int"))
    val yyyy = s(id % 5 + 2020)
    val dd = lpad(s(id % 28 + 1), 2, "0")
    val mm = lpad(s(id % 12 + 1), 2, "0")

    val base = docs
      .withColumn("record_id", concat(lit("rec-"), s(id)))
      .withColumn("parent_id", concat(lit("parent-"), s(id % 50)))
      .withColumn("session_id", concat(lit("sess-"), s(id % 10)))
      .withColumn("document_type", dtype)
      .withColumn("route", route)
      .withColumn("month_name", monthName)
      .withColumn("period_year", yyyy)
      .withColumn("d1", concat_ws("/", dd, mm, yyyy))

    val prefix = when(col("route") === "inscripciones", lit("Inscripciones"))
      .when(col("route") === "tasaciones", lit("Tasaciones"))
      .otherwise(lit("Polizas"))
    val withKey = base.withColumn(
      "key",
      concat(prefix, lit("/"), col("month_name"), lit(" "), col("period_year"),
        lit("/doc_"), s(id), lit(".pdf")))

    val polizaBody = concat(
      lit("Poliza N° POL-"), s(id),
      lit("\nContratante: CLIENTE "), s(id), lit(" S.A."),
      lit("\nVigencia desde "), col("d1"), lit(" hasta 28/"), mm, lit("/"), yyyy,
      lit("\n\n"), col("text"))
    val tasacionBody = concat(
      lit("Perito evaluador: PERITO "), s(id),
      lit("\nFecha de tasacion: "), col("d1"),
      lit("\nValor comercial (VC) S/. "), s(id * 1000 + 500), lit(".00"),
      lit("\nValor de realización (VR) S/. "), s(id * 800 + 400), lit(".00"),
      lit("\nPropietario: OWNER "), s(id),
      lit("\n\n"), col("text"))
    def inscPage(p: Int): Column = concat(
      lit("Partida N° 9"), s(id), lit(p.toString),
      lit("\nacreedor hipotecario: BANCO "), s(id % 7),
      lit("\nel titulo fue presentado el "), col("d1"),
      lit("\n\n"), substring(col("text"), 1 + 60 * (p - 1), 60))

    withKey
      .withColumn("npages", (id % 3 + 1).cast("int"))
      .withColumn("pages",
        slice(array(inscPage(1), inscPage(2), inscPage(3)), lit(1), col("npages")))
      .withColumn("body",
        when(col("route") === "tasaciones", tasacionBody)
          .when(col("route") === "inscripciones", array_join(col("pages"), "\n\n"))
          .otherwise(polizaBody))
      // Cache (MB-scale): every ETL query references this corpus 2-6
      // times, and its synthesis tree is large — cached, downstream
      // plans analyze/optimize against a small InMemoryRelation instead
      // of re-canonicalizing the whole concat tree per reference (that
      // driver-side tree work, not execution, dominated the bench).
      // The repartition pins full parallelism for the cached copy.
      // Lifecycle: pooled as "requests" like the dedup corpora,
      // released at a dataset switch.
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
  }
}
