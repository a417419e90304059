package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.SparkSessionExtensions

/** TTL-chain deduplication as a first-class Catalyst operator.
  *
  * Semantics (reference ObliviousSet, /root/reference/src/
  * deduplication.ts:77,117-121): per digest keep the first row in
  * (ts, tiebreak) order, then greedily every row ≥ lastKept + window;
  * duplicates do not refresh the TTL.
  *
  * `floor`, when given, names a column carrying the digest's last kept
  * time from earlier batches (a state table joined on the digest, see
  * operators.IncrementalDedup): a non-null floor seeds the run, so its
  * first row is kept only at or after floor + window; a null floor
  * keeps the run's first row as without one.
  *
  * This file is graft's one home of the keep rule: [[KeepRun]], called
  * by this batch operator's `doExecute` and generated code and by the
  * streaming [[StreamChainDedupExec]], whose floor is the state store's
  * last kept time. The exec node filters raw `InternalRow`s in a
  * streaming pass with O(1) state, with no object ser/de boundary.
  * Catalyst inserts the required hash exchange +
  * in-partition sort via requiredChildDistribution/Ordering — at
  * cluster scale that is one shuffle on the uniform digest key,
  * identical to any groupBy.
  */
case class ChainDedupPlan(digest: Attribute, ts: Attribute,
                          tiebreak: Seq[Attribute], windowUs: Long,
                          floor: Option[Attribute],
                          child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): ChainDedupPlan =
    copy(child = c)
}

case class ChainDedupExec(digest: Attribute, ts: Attribute,
                          tiebreak: Seq[Attribute], windowUs: Long,
                          floor: Option[Attribute],
                          child: SparkPlan) extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(digest)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((digest +: ts +: tiebreak).map(a => SortOrder(a, Ascending)))

  private def index(a: Attribute): Int = child.output.indexWhere(_.exprId == a.exprId)

  // ---- whole-stage codegen: the greedy-chain filter fuses into the
  // ---- sorted child's consume loop; state is the current digest and a
  // ---- KeepRun held as generated-class fields (per-partition
  // ---- instance), exactly the interpreted pass.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val cur = ctx.addMutableState(CodeGenerator.JAVA_LONG, "chainCur")
    val init = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "chainInit")
    val runClass = classOf[KeepRun].getName
    val run = ctx.addMutableState(runClass, "chainRun",
      v => s"$v = new $runClass(${windowUs}L);")
    val keep = ctx.freshName("chainKeep")
    val evalAll = evaluateVariables(input)
    val d = input(index(digest)).value
    val t = input(index(ts)).value
    val first = floor.map(a => input(index(a))) match {
      case None => s"$run.start($t)"
      case Some(f) => s"${f.isNull} ? $run.start($t) : $run.start($t, ${f.value})"
    }
    s"""
       |$evalAll
       |boolean $keep;
       |if (!$init || $d != $cur) {
       |  $init = true; $cur = $d; $keep = $first;
       |} else {
       |  $keep = $run.next($t);
       |}
       |if ($keep) {
       |  ${consume(ctx, input)}
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val digestIdx = index(digest)
    val tsIdx = index(ts)
    val floorIdx = floor.fold(-1)(index)
    val win = windowUs
    child.execute().mapPartitions({ it =>
      // rows arrive clustered by digest and sorted by (digest, ts, ...):
      // a single pass with one timestamp of state per run suffices.
      val run = new KeepRun(win)
      var cur = 0L; var init = false
      it.filter { row =>
        val d = row.getLong(digestIdx)
        val t = row.getLong(tsIdx)
        if (!init || d != cur) {
          init = true; cur = d
          if (floorIdx < 0 || row.isNullAt(floorIdx)) run.start(t)
          else run.start(t, row.getLong(floorIdx))
        } else run.next(t)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): ChainDedupExec =
    copy(child = c)
}

/** The keep rule over one digest's run of rows in (ts, tiebreak) order,
  * interpreted: the run's first row is kept unless the digest's `floor`
  * (its last kept time before the run) is less than the window behind
  * it; every later row is kept iff it lands at least the window after
  * the last kept row. `lastKept` is the run's last kept time, the floor
  * when it kept none. */
private[graft] final class KeepRun(windowUs: Long) {
  private var last = 0L

  /** The first row of a run without a floor: always kept. */
  def start(t: Long): Boolean = { last = t; true }

  /** The first row of a run whose digest was last kept at `floor`. */
  def start(t: Long, floor: Long): Boolean =
    if (t >= floor + windowUs) { last = t; true } else { last = floor; false }

  def next(t: Long): Boolean =
    if (t >= last + windowUs) { last = t; true } else false

  def lastKept: Long = last
}

object ChainDedupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ChainDedupPlan(d, t, tb, w, f, child) =>
      ChainDedupExec(d, t, tb, w, f, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Register with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Injects the custom planner strategies, the streaming chain's swap
  * ([[StreamChainDedupRule]]) and the SQL-facing functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.plans", "", name, usage, "", "", "", "misc_funcs", "", "", "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => ChainDedupStrategy)
    e.injectColumnar(_ => StreamChainDedupRule)
    e.injectPlannerStrategy(_ => GlobalRankStrategy)
    e.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float arrays"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(text, n) - distinct n-gram shingles"),
      (args: Seq[Expression]) => ShingleArray(args.head, args.lift(1).map(
        _.eval().asInstanceOf[Number].intValue()).getOrElse(3))))
    e.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(shingles, k) - minhash signature"),
      (args: Seq[Expression]) => MinHashSignature(args.head, args.lift(1).map(
        _.eval().asInstanceOf[Number].intValue()).getOrElse(16))))
    e.injectFunction((FunctionIdentifier("graft_buckets"),
      info("graft_buckets",
        "graft_buckets(vec, numPlanes, planesPerBand, dim) - hyperplane LSH band buckets"),
      (args: Seq[Expression]) => HyperplaneBuckets(args.head,
        args(1).eval().asInstanceOf[Number].intValue(),
        args(2).eval().asInstanceOf[Number].intValue(),
        args(3).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((FunctionIdentifier("graft_theta_sketch"),
      info("graft_theta_sketch",
        "graft_theta_sketch(hash, k) - aggregate: sorted min-k distinct hashes (KMV/theta sketch)"),
      (args: Seq[Expression]) => ThetaSketchAgg(args.head, args.lift(1).map(
        _.eval().asInstanceOf[Number].intValue()).getOrElse(64))
        .toAggregateExpression(isDistinct = false)))
    e.injectFunction((FunctionIdentifier("graft_kmv_sample"),
      info("graft_kmv_sample",
        "graft_kmv_sample(hash, value, k) - aggregate: deterministic KMV (hash, value) sample"),
      (args: Seq[Expression]) => KmvSampleAgg(args(0), args(1), args.lift(2).map(
        _.eval().asInstanceOf[Number].intValue()).getOrElse(256))
        .toAggregateExpression(isDistinct = false)))
    e.injectFunction((FunctionIdentifier("graft_ratio4"),
      info("graft_ratio4",
        "graft_ratio4(num, den) - ROUND(num/den, 4) HALF_UP on the exact rational " +
          "in int64 (cross-engine deterministic; see Hashing.ratio4)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, IntegralDivide, Literal, Multiply}
        import org.apache.spark.sql.types.{DoubleType, LongType}
        val num = Cast(args(0), LongType)
        val den = Cast(args(1), LongType)
        val scaled = Add(Multiply(num, Literal(10000L)), IntegralDivide(den, Literal(2L)))
        Divide(Cast(IntegralDivide(scaled, den), DoubleType), Literal(10000.0))
      }))
  }
}
