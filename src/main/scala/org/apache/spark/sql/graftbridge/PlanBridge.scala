package org.apache.spark.sql
package graftbridge

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.catalyst.plans.logical.{Sort, Statistics}
import org.apache.spark.sql.execution.LogicalRDD

/** Lives under org.apache.spark.sql to reach private[sql] builders.
  *
  * Purpose: Verify/oracle determinism forces every declared query to end
  * in a global ORDER BY, but benching those plans mostly times a global
  * sort of the full output (VERDICT r1). The bench harness strips the
  * top-level Sort so timings measure the operator, not the determinism
  * shim. Correctness runs (Verify) keep the sorted plan untouched.
  *
  * It is also the one owner of localCheckpoint blocks. Every checkpoint
  * is made here and registered in the calling thread's innermost
  * [[scoped]] block, whose exit releases what its result no longer reads;
  * [[release]] is only for a loop freeing its superseded round. Outside
  * every scope nothing is registered, and GC frees a checkpoint through
  * Spark's ContextCleaner.
  */
object PlanBridge {

  /** `AbstractDataType` is private[sql]; expressions outside the spark
    * package alias it here to declare `inputTypes` (ImplicitCastInputTypes
    * needs the abstract type, not DataType). */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Drop a top-level global ORDER BY; any other plan is returned as-is. */
  def stripTopSort(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.logical match {
      case s: Sort if s.global =>
        classic.Dataset.ofRows(ds.sparkSession, s.child)
      case _ => df
    }
  }

  /** Column <-> catalyst Expression, for graft's native expressions. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a frame / frame from a logical plan — for
    * building graft's custom logical nodes (e.g. PointIntervalJoin). */
  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** localCheckpoint with SANE statistics for ROUND-ITERATED frames.
    *
    * Spark 3.5+ propagates the origin plan's ESTIMATED Statistics onto
    * the checkpoint's LogicalRDD (originStats), so an iterative
    * algorithm whose round-k plan references the round-(k−1) checkpoint
    * m times multiplicatively inherits a sizeInBytes whose BIT COUNT
    * grows ~m^k: the estimate is a BigInt, join stats MULTIPLY child
    * sizes, and by round ~14 of a m≈5 sweep (louvainWeighted at sf1)
    * the driver sits in BigInteger.multiplyToomCook3 inside
    * SizeInBytesOnlyStatsPlanVisitor for HOURS (observed: 90+ min of
    * driver CPU planning ONE sweep — the r15 sf1 board hang). This
    * helper checkpoints eagerly, then swaps the inherited estimate for
    * the checkpointed RDD's MEASURED storage size — bounded, and a
    * better broadcast signal than any estimate. Use it for every
    * checkpoint that a LATER round's plan will reference; one-shot
    * checkpoints can keep [[localCheckpoint]]. */
  def freshLocalCheckpoint(df: DataFrame): DataFrame = {
    val ds = owned(df.asInstanceOf[classic.Dataset[Row]].localCheckpoint())
    checkpointRdd(ds).fold(ds: DataFrame)(lr =>
      withSize(ds, lr, storedSize(ds, lr).getOrElse(1L << 20)))
  }

  /** `Dataset.localCheckpoint()`: eager, origin-plan statistics. */
  def localCheckpoint(df: DataFrame): DataFrame =
    owned(df.asInstanceOf[classic.Dataset[Row]].localCheckpoint())

  /** LAZY localCheckpoint for a subtree referenced more than once inside
    * a SINGLE action (r18): Spark does not CSE DataFrame subtrees, so a
    * frame consumed by two branches of one plan evaluates twice; wrapping
    * it here makes the blocks materialize at the action's first use and
    * the other branch read them — one evaluation, ZERO extra jobs (no
    * eager count), and unchanged plan decisions (the origin plan's
    * estimated Statistics ride onto the LogicalRDD, exactly what the
    * duplicated subtrees saw). NOT for frames a LATER round's plan
    * references — those stats compound multiplicatively across rounds;
    * use [[freshLocalCheckpoint]] there.
    *
    * `sizeInBytes` replaces the origin plan's estimate. For iterative
    * operators that fuse a round's frames into one action (louvain r19):
    * the inherited estimate is the round-plan's multiplied join estimate —
    * large enough to flip the round's small-frame joins to sort-merge —
    * while the TRUE size is known to match the previous round's measured
    * checkpoint (cardinalities are round-invariant). Callers must pass a
    * scale-honest bound (a measured size of a same-cardinality frame),
    * never a constant: an optimistic literal would broadcast a huge frame
    * at scale. */
  def sharedLocalCheckpoint(df: DataFrame,
                            sizeInBytes: Option[Long] = None): DataFrame = {
    val origin = df.asInstanceOf[classic.Dataset[Row]]
    val ds = owned(origin.localCheckpoint(eager = false))
    checkpointRdd(ds).foreach(lr => originPlans.put(lr.rdd, origin.queryExecution.executedPlan))
    sizeInBytes.fold(ds: DataFrame)(size =>
      checkpointRdd(ds).fold(ds: DataFrame)(withSize(ds, _, size)))
  }

  /** The physical plan that fills each lazy checkpoint, held as long as
    * the checkpoint's RDD is. The first job to finish over a lazy
    * checkpoint truncates its lineage, and with it the driver's last
    * reference to the origin plan's SQL metrics, while tasks of other
    * jobs of the same action (AQE runs independent stages as concurrent
    * jobs) may still be computing its partitions. Collected before they
    * end, those metrics are missing on the driver when the tasks report
    * them, and the DAGScheduler logs "Failed to update accumulator" for
    * each. */
  private val originPlans = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], AnyRef]())

  /** Measured storage size of an (already materialized) localCheckpoint's
    * RDD — the same read [[freshLocalCheckpoint]] swaps into its stats;
    * exposed so iterative operators can seed next-round size hints from
    * this round's materialized state. None when the frame is not a
    * checkpoint or its blocks report no size. */
  def measuredCheckpointSize(df: DataFrame): Option[Long] =
    checkpointRdd(df).flatMap(storedSize(df, _))

  private def checkpointRdd(df: DataFrame): Option[LogicalRDD] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr)
      case _ => None
    }

  /** Memory + disk bytes of the checkpoint's blocks; None when they
    * report no size (not materialized yet). */
  private def storedSize(df: DataFrame, lr: LogicalRDD): Option[Long] =
    df.sparkSession.sparkContext.getRDDStorageInfo
      .find(_.id == lr.rdd.id)
      .map(i => i.memSize + i.diskSize)
      .filter(_ > 0L)

  /** The checkpoint frame re-planned with `sizeInBytes` as its statistics
    * in place of the ones it inherited from its origin plan. */
  private def withSize(ds: classic.Dataset[Row], lr: LogicalRDD,
                       sizeInBytes: Long): DataFrame =
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
        lr.isStreaming, lr.stream)(
        ds.sparkSession, Some(Statistics(sizeInBytes = BigInt(sizeInBytes))), None))

  /** Free the blocks behind a checkpointed frame now — only for a loop's
    * superseded round. Through the SparkContext: Dataset.unpersist is a
    * no-op for a local checkpoint and RDD.unpersist warns about its
    * truncated lineage. The frame must no longer be needed. */
  def release(df: DataFrame): Unit = checkpointRdd(df).foreach { lr =>
    scopes.get.foreach(_.remove(lr.rdd.id))
    unpersist(lr.rdd)
  }

  /** The frames a [[scoped]] result still reads. */
  trait Frames[T] { def apply(t: T): Seq[DataFrame] }
  object Frames {
    implicit val frame: Frames[DataFrame] = Seq(_)
    implicit def value[T <: AnyVal]: Frames[T] = _ => Nil
    implicit def pair[A, B](implicit a: Frames[A], b: Frames[B]): Frames[(A, B)] =
      t => a(t._1) ++ b(t._2)
  }

  /** This thread's active scopes, innermost first. */
  private val scopes = ThreadLocal.withInitial[List[mutable.Map[Int, RDD[_]]]](() => Nil)

  /** Run `body` as the owner of every checkpoint made in it on this thread.
    * On normal exit it releases the blocks its result does not read — the
    * RDDs behind the result's `LogicalRDD` leaves (subqueries included) and
    * their lineage, which keeps a lazy checkpoint's unmaterialized parents;
    * an eager checkpoint's truncated lineage ends the walk — and hands the
    * rest to the enclosing scope. An exception releases everything, and
    * so does a `return` out of `body` (Scala throws to implement it). */
  def scoped[T](body: => T)(implicit frames: Frames[T]): T = {
    val outer = scopes.get
    val mine = mutable.LinkedHashMap.empty[Int, RDD[_]]
    scopes.set(mine :: outer)
    val out = try body catch { case e: Throwable => mine.values.foreach(unpersist); throw e }
      finally scopes.set(outer)
    if (mine.nonEmpty) {
      val read = readRdds(frames(out))
      for ((id, rdd) <- mine)
        if (!read(id)) unpersist(rdd) else outer.headOption.foreach(_(id) = rdd)
    }
    out
  }

  private def owned(ds: classic.Dataset[Row]): classic.Dataset[Row] = {
    for (s <- scopes.get.headOption; lr <- checkpointRdd(ds)) s(lr.rdd.id) = lr.rdd
    ds
  }

  private def unpersist(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Ids of the RDDs the frames' plans read, through their lineage. */
  private def readRdds(frames: Seq[DataFrame]): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    frames.foreach(analyzedPlan(_).collectWithSubqueries { case lr: LogicalRDD => lr.rdd }.foreach(walk))
    seen.toSet
  }

  /** `body`'s result and the ids of the RDDs persisted during it that are
    * still persisted after it. Blocks are held strongly from the moment
    * they are stored, so a leak cannot drop out of SparkContext's
    * weak-valued registry before it is counted. */
  def persistedAfter[T](spark: SparkSession)(body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = for (b <- e.blockUpdatedInfo
        .blockId.asRDDId; rdd <- sc.getPersistentRDDs.get(b.rddId)) held.put(b.rddId, rdd)
    }
    sc.addSparkListener(listener)
    val out = try body finally { sc.listenerBus.waitUntilEmpty(); sc.removeSparkListener(listener) }
    try (out, (sc.getPersistentRDDs.keySet -- before).toSeq.sorted) finally held.clear()
  }

  /** Block until the listener bus has delivered every queued event —
    * deterministic drain for tools that attribute jobs/stages to a rep
    * (QueryProbe); `listenerBus` is private[spark], hence bridged here. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Non-blocking Observation read (Observation.get blocks forever when
    * the optimizer pruned the observed subtree). Empty map until the
    * observed frame's job completes. Goes through getRowOrEmpty (private
    * [sql]): Spark 4.1's getOrEmpty throws an NPE before the metrics
    * arrive (it reads the schema of `Row.empty`, which is null). */
  def observedMetrics(o: Observation): Map[String, Any] =
    o.getRowOrEmpty.fold(Map.empty[String, Any])(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))

  /** Metrics of an Observation whose action has ALREADY returned, or
    * None when the observation never fired (the optimizer pruned the
    * observed subtree, or the frame was never materialized). Observed
    * metrics reach the Observation through a QueryExecutionListener on the
    * listener bus, which can lag the action's return; the bus is drained
    * once before concluding they will not come — no fixed sleep or poll. */
  def observedAfterAction(o: Observation): Option[Map[String, Any]] = {
    if (o.getRowOrEmpty.isEmpty)
      org.apache.spark.SparkContext.getActive.foreach(_.listenerBus.waitUntilEmpty())
    Some(observedMetrics(o)).filter(_.nonEmpty)
  }

  /** [[observedAfterAction]] for an observation that must have fired
    * (e.g. metrics riding an eager localCheckpoint). Throws otherwise —
    * for a materialized frame that means the observed node was pruned,
    * which is a caller bug, not a wait-longer situation. */
  def awaitObserved(o: Observation): Map[String, Any] =
    observedAfterAction(o).getOrElse(throw new IllegalArgumentException(
      "observation did not fire — was the observed frame actually materialized?"))

  /** Register a function on a LIVE session (the extensions path only
    * applies at session construction). */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
