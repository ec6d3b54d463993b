package graft

/** The custom-expression layer's deployment path: GraftExtensions is
  * the only code that registers the graft_* functions, so every name it
  * lists must resolve in a fresh `newSession()`, whose FunctionRegistry
  * is built from the extensions alone. */
class FunctionsSpec extends SparkSpec {

  /** The function names GraftExtensions injects, in injection order. */
  private def injectedNames(): Seq[String] = {
    import org.apache.spark.sql.SparkSessionExtensions
    val names = scala.collection.mutable.Buffer.empty[String]
    new graft.functions.GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        names += f._1.funcName
    })
    names.toSeq
  }

  test("GraftExtensions injects graft_dot/graft_intersect at session build") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                graft_intersect(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS i""").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 2)
    // the one registration path covers every function it lists
    val names = injectedNames()
    assert(names.size == 16)
    val missing = names.filterNot(n => fresh.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered in a fresh session: $missing")
  }

  test("graft_count_in / graft_sum_len match the interpreted HOF formulations") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val words = Vector("the", "of", "and", "él", "München", "", "x1", "a")
    val rows = Seq.fill(80)(Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.size))))
      .toDF("a")
    val set = typedlit(Seq("the", "and", "él", ""))
    val cmp = rows.select(
      call_function("graft_count_in", col("a"), set).as("fast_cnt"),
      size(filter(col("a"), t => array_contains(set, t))).as("hof_cnt"),
      call_function("graft_sum_len", col("a")).as("fast_len"),
      aggregate(transform(col("a"), t => length(t).cast("long")), lit(0L), (s, x) => s + x)
        .as("hof_len"))
      .collect()
    cmp.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("graft_dot matches the interpreted HOF formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    import spark.implicits._
    val rows = Seq.fill(50)((
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1))).toDF("a", "b")
    val cmp = rows.select(
      call_function("graft_dot", col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, x) -> s + x)").as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("graft_cosine matches the 3-dot composition bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    import spark.implicits._
    val rows = Seq.fill(50)((
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1))).toDF("a", "b")
    def dot(a: String, b: String) =
      call_function("graft_dot", col(a), col(b))
    val cmp = rows.select(
      call_function("graft_cosine", col("a"), col("b")).as("fused"),
      (dot("a", "b") / (sqrt(dot("a", "a")) * sqrt(dot("b", "b")))).as("composed"))
      .collect()
    // exact equality: the fused accumulators see the same IEEE op
    // sequence as the standalone folds — this is what lets the ANN
    // oracle SQL keep the list_dot_product formulation
    cmp.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("graft_top_freq / graft_dup_bigrams match the relational formulations") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    import spark.implicits._
    val words = Vector("a", "b", "c", "dd", "ée", "", "f")
    // include the degenerate shapes: empty array, single token
    val rows = (Seq(Seq.empty[String], Seq("a")) ++
      Seq.fill(80)(Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.size)))))
      .zipWithIndex.map(_.swap).toDF("id", "a")
    // oracle: explode + groupBy count (the shuffle-heavy route the
    // kernel exists to avoid), computed per id
    val exploded = rows.select(col("id"), explode_outer(col("a")).as("t"))
      .groupBy("id", "t").count()
      .groupBy("id").agg(max(when(col("t").isNotNull, col("count"))
        .otherwise(lit(0L))).as("slow_top"))
    val bigrams = rows.select(col("id"),
      when(size(col("a")) < 2, lit(0L)).otherwise(
        (size(col("a")) - 1).cast("long") -
          size(array_distinct(zip_with(
            slice(col("a"), lit(1), greatest(size(col("a")) - 1, lit(0))),
            slice(col("a"), lit(2), greatest(size(col("a")) - 1, lit(0))),
            (x, y) => concat(x, lit(" "), y)))).cast("long"))
        .as("slow_dup"))
    val fast = rows.select(col("id"),
      call_function("graft_top_freq", col("a")).cast("long").as("fast_top"),
      call_function("graft_dup_bigrams", col("a")).cast("long").as("fast_dup"))
    val cmp = fast.join(exploded, "id").join(bigrams, "id").collect()
    assert(cmp.length === 82)
    cmp.foreach { r =>
      assert(r.getAs[Long]("fast_top") === r.getAs[Long]("slow_top"),
        s"top_freq mismatch at id=${r.getAs[Int]("id")}")
      assert(r.getAs[Long]("fast_dup") === r.getAs[Long]("slow_dup"),
        s"dup_bigrams mismatch at id=${r.getAs[Int]("id")}")
    }
  }

  test("graft_gram_h60 matches the relational h60 gram build bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(19)
    import spark.implicits._
    val words = Vector("alpha", "b", "cc", "ddd", "él", "München", "", "x")
    // degenerate shapes: empty, shorter-than-k, exactly-k
    val rows = (Seq(Seq.empty[String], Seq("a", "b"), Seq("a", "b", "c")) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.size)))))
      .zipWithIndex.map(_.swap).toDF("id", "a")
    val k = 3
    // oracle: the pre-round-19 relational formulation — h60 (md5 hex
    // prefix, base-16 parse) of the space-joined k-gram at every start
    val slow = rows.select(col("id"),
      when(size(col("a")) < k, array().cast("array<long>")).otherwise(
        transform(sequence(lit(0), size(col("a")) - k),
          i => graft.pipeline.DupCorpus.h60(concat_ws(" ",
            element_at(col("a"), i + 1),
            element_at(col("a"), i + 2),
            element_at(col("a"), i + 3)))))
        .as("slow"))
    val fast = rows.select(col("id"),
      call_function("graft_gram_h60", col("a"), lit(k)).as("fast"))
    val cmp = fast.join(slow, "id").collect()
    assert(cmp.length === 63)
    cmp.foreach { r =>
      assert(r.getSeq[Long](1).toList === r.getSeq[Long](2).toList,
        s"gram_h60 mismatch at id=${r.getAs[Int]("id")}")
    }
  }

  test("graft_win_min matches the per-window slice-min HOF") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    import spark.implicits._
    // adversarial shapes for the deque: empty, shorter-than-w,
    // exactly-w, strictly increasing, strictly decreasing, ties
    val rows = (Seq(Seq.empty[Long], Seq(5L), Seq(1L, 2L, 3L, 4L),
      Seq(4L, 3L, 2L, 1L), Seq(7L, 7L, 7L, 7L, 7L)) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(25))(rnd.nextLong().abs)))
      .zipWithIndex.map(_.swap).toDF("id", "a")
    val w = 4
    val slow = rows.select(col("id"),
      when(size(col("a")) < w, array().cast("array<long>")).otherwise(
        transform(sequence(lit(1), size(col("a")) - w + 1),
          j => array_min(slice(col("a"), j, lit(w)))))
        .as("slow"))
    val fast = rows.select(col("id"),
      call_function("graft_win_min", col("a"), lit(w)).as("fast"))
    val cmp = fast.join(slow, "id").collect()
    assert(cmp.length === 65)
    cmp.foreach { r =>
      assert(r.getSeq[Long](1).toList === r.getSeq[Long](2).toList,
        s"win_min mismatch at id=${r.getAs[Int]("id")}")
    }
  }

  test("graft_gram_h60 skips null tokens exactly as concat_ws does") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(29)
    import spark.implicits._
    val words = Vector("alpha", "b", null, "él", "", null)
    val rows = (Seq(Seq[String](null, null, null), Seq("a", null, "c")) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(20))(words(rnd.nextInt(words.size)))))
      .zipWithIndex.map(_.swap).toDF("id", "a")
    assert(rows.schema("a").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, true))
    val k = 3
    val slow = rows.select(col("id"),
      when(size(col("a")) < k, array().cast("array<long>")).otherwise(
        transform(sequence(lit(0), size(col("a")) - k),
          i => graft.pipeline.DupCorpus.h60(concat_ws(" ",
            element_at(col("a"), i + 1),
            element_at(col("a"), i + 2),
            element_at(col("a"), i + 3)))))
        .as("slow"))
    val fast = rows.select(col("id"),
      call_function("graft_gram_h60", col("a"), lit(k)).as("fast"))
    val cmp = fast.join(slow, "id").collect()
    assert(cmp.length === 62)
    cmp.foreach { r =>
      assert(r.getSeq[Long](1).toList === r.getSeq[Long](2).toList,
        s"gram_h60 mismatch at id=${r.getAs[Int]("id")}")
    }
  }

  test("graft_gram_h60 / graft_win_min reject a non-positive k/w literal") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(array(lit("a"), lit("b")).as("t"),
      array(lit(1L), lit(2L)).as("h"))
    assert(df.select(call_function("graft_gram_h60", col("t"), lit(1)),
      call_function("graft_win_min", col("h"), lit(1))).collect().length === 1)
    for (bad <- Seq(lit(0), lit(-2), lit(null).cast("int"))) {
      for (f <- Seq(call_function("graft_gram_h60", col("t"), bad),
          call_function("graft_win_min", col("h"), bad))) {
        val err = intercept[org.apache.spark.sql.AnalysisException](df.select(f))
        assert(err.getMessage.contains("positive int literal"), err.getMessage)
      }
    }
  }

  // GraftSession silences the registry's "replaced a previously registered
  // function" WARN (every session clone re-injects); this keeps a real
  // clash from hiding behind it
  test("injected function names are distinct, graft_-prefixed and not built-in") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val names = injectedNames()
    assert(names.size == 16)
    assert(names.distinct == names, names)
    assert(names.forall(_.startsWith("graft_")), names)
    assert(names.forall(n => !FunctionRegistry.builtin.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n))), names)
  }
}
