package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** In-task graph kernels over one component's edge list, called from
  * both the interpreted `eval` path and the generated code (the
  * [[TokenStats]] pattern: the expression stays inside whole-stage
  * codegen and emits a static call).
  *
  * Why not a relational loop: BFS as frontier joins needs one
  * driver-side round per level (a job to test the frontier, a job to
  * materialize the layer), and on dup-graph-sized relations those
  * jobs, not the joins, are the cost. Grouping the edges by component
  * and walking them in the task makes the whole BFS one plan with no
  * job at construction time. */
object GraphKernels {
  val HopsType: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("hops", IntegerType, nullable = false)))

  /** Hop distance from `root` along the directed edges
    * `src(i) -> dst(i)`, for every node reachable within `cap` hops,
    * as (doc_id, hops) structs ordered by doc_id. The root is always
    * in the result at hops 0, even with no edges. Each node gets its
    * minimum hop count (breadth-first order); edges may repeat. O(V+E)
    * with a CSR adjacency over dense node ids. */
  def bfsHops(root: Long, src: ArrayData, dst: ArrayData, cap: Int): ArrayData = {
    val n = src.numElements()
    if (dst.numElements() != n) throw new IllegalArgumentException(
      s"graft_bfs_hops: src has $n edges but dst has ${dst.numElements()}")
    val index = new java.util.HashMap[java.lang.Long, Integer](n * 2 + 2)
    var nodes = new Array[Long](16)
    var v = 0
    def idOf(x: Long): Int = {
      val i = index.get(x)
      if (i != null) i.intValue() else {
        if (v == nodes.length) nodes = java.util.Arrays.copyOf(nodes, v * 2)
        nodes(v) = x; index.put(x, v); v += 1; v - 1
      }
    }
    idOf(root)
    val s = new Array[Int](n)
    val t = new Array[Int](n)
    var i = 0
    while (i < n) { s(i) = idOf(src.getLong(i)); t(i) = idOf(dst.getLong(i)); i += 1 }
    // CSR: start(u) until start(u + 1) indexes u's out-neighbours in adj
    val start = new Array[Int](v + 1)
    i = 0
    while (i < n) { start(s(i) + 1) += 1; i += 1 }
    i = 0
    while (i < v) { start(i + 1) += start(i); i += 1 }
    val fill = java.util.Arrays.copyOf(start, v)
    val adj = new Array[Int](n)
    i = 0
    while (i < n) { adj(fill(s(i))) = t(i); fill(s(i)) += 1; i += 1 }
    val dist = Array.fill(v)(-1)
    val queue = new Array[Int](v)
    dist(0) = 0
    var head = 0
    var tail = 1
    while (head < tail) {
      val u = queue(head); head += 1
      if (dist(u) < cap) {
        var j = start(u)
        while (j < start(u + 1)) {
          val w = adj(j)
          if (dist(w) < 0) { dist(w) = dist(u) + 1; queue(tail) = w; tail += 1 }
          j += 1
        }
      }
    }
    val reached = java.util.Arrays.copyOf(queue, tail).sortBy(nodes(_))
    new GenericArrayData(reached.map(u => InternalRow(nodes(u), dist(u)): Any))
  }
}

/** `graft_bfs_hops(root bigint, src array<bigint>, dst array<bigint>,
  * cap int) -> array<struct<doc_id bigint, hops int>>` — see
  * [[GraphKernels.bfsHops]]. The edge arrays must not hold nulls
  * (`collect_list` output qualifies) and `cap` must be a foldable
  * positive int. */
case class BfsHops(root: Expression, src: Expression, dst: Expression,
    cap: Expression) extends QuaternaryExpression {
  override def first: Expression = root
  override def second: Expression = src
  override def third: Expression = dst
  override def fourth: Expression = cap

  override def checkInputDataTypes(): TypeCheckResult =
    (root.dataType, src.dataType, dst.dataType, cap.dataType) match {
      case (LongType, ArrayType(LongType, false), ArrayType(LongType, false),
            IntegerType) =>
        if (!cap.foldable) TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a constant cap, got ${cap.sql}")
        else cap.eval() match {
          case c: Int if c > 0 => TypeCheckResult.TypeCheckSuccess
          case c => TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects a positive cap, got $c")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (bigint, array<bigint> without nulls, " +
          s"array<bigint> without nulls, int literal), got (" +
          children.map(_.dataType.sql).mkString(", ") + ")")
    }
  override def dataType: DataType =
    ArrayType(GraphKernels.HopsType, containsNull = false)
  override protected def nullSafeEval(r: Any, a: Any, b: Any, c: Any): Any =
    GraphKernels.bfsHops(r.asInstanceOf[Long], a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, a, b, c) =>
      s"${ev.value} = graft.functions.GraphKernels.bfsHops($r, $a, $b, $c);")
  override protected def withNewChildrenInternal(r: Expression, a: Expression,
      b: Expression, c: Expression): BfsHops =
    copy(root = r, src = a, dst = b, cap = c)
  override def prettyName: String = "graft_bfs_hops"
}
