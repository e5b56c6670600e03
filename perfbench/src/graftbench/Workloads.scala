package graftbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine._
import graft.operators.{GapEngine, GapExceptions, GenericTests, TriStateRules}
import graft.queries.{Checks, CoreQueries}
import graft.sources.Sources

/** Outcome of one timed operation. `fingerprint` is the result fingerprint
  * of a query op; `rows` is the landed row count of a refresh op.
  */
final case class OpResult(name: String, kind: String, seconds: Double, ok: Boolean,
    error: Option[String], fingerprint: Option[String] = None, rows: Long = 0L)

/** What a workload's timed section hands back: its operations, its wall
  * time and workload-specific figures for the report.
  */
final case class TimedResult(ops: Seq[OpResult], wallS: Double, extra: Map[String, Double])

/** Runs one operation on a worker thread under a deadline of 60 s. On
  * overrun the operation's job group is cancelled; an operation that still
  * does not return after a grace period marks the runner broken, and every
  * later operation fails without running.
  */
final class OpRunner(spark: SparkSession) {
  private val deadlineS = 60.0
  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graftbench-op"); t.setDaemon(true); t
  }
  @volatile private var broken = false

  def apply[T](opId: Int, name: String)(body: => T): Either[String, T] =
    if (broken) Left("skipped: an earlier operation could not be cancelled")
    else {
      import java.util.concurrent.{ExecutionException, TimeUnit, TimeoutException}
      val group = s"graftbench-op-$opId"
      val sc = spark.sparkContext
      val f = pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          sc.setJobGroup(group, name, interruptOnCancel = true)
          try body finally sc.clearJobGroup()
        }
      })
      try Right(f.get((deadlineS * 1000).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          try f.get(15, TimeUnit.SECONDS) catch { case _: Throwable => () }
          if (!f.isDone) broken = true
          Left(f"deadline of $deadlineS%.0f s exceeded")
        case e: ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Left(c.getClass.getSimpleName + ": " +
            Option(c.getMessage).getOrElse("").takeWhile(_ != '\n').take(300))
      }
    }

  def shutdown(): Unit = pool.shutdownNow()
}

/** A benchmark workload: staging and warm-up make up set-up; `timed` is
  * the measured closed loop of one client; `verify` runs after timing.
  */
trait Workload {
  def stage(spark: SparkSession): Unit
  def warmup(spark: SparkSession, runner: OpRunner): Unit
  /** Untimed cache fill after the last set-up, outside `setup_s`. */
  def prime(spark: SparkSession, runner: OpRunner): Unit
  def timed(spark: SparkSession, runner: OpRunner, tracer: Tracer): TimedResult
  /** Failed correctness checks (empty = correct). */
  def verify(spark: SparkSession, result: TimedResult): Seq[String]
  def inputs: Map[String, Any]
  def cleanup(): Unit = ()
}

object QueryLists {
  /** The gap-engine family: the paper's own pipeline as read-only queries. */
  val gapFamily = Seq("q01_stg_claim_lines", "q02_stg_members", "q03_gap_col_status",
    "q04_gap_col_violations", "q05_fct_gap_exceptions", "q29_gap_bcs_status",
    "q187_continuous_enrollment")
  /** Relational, window and rollup queries. */
  val relational = Seq("q10_date_spine", "q11_claim_rollups", "q12_member_cost_summary",
    "q16_window_top_claim")
  /** The compute-heavy tail of the engine's profile, less q315_mann_kendall,
    * q222_modularity and q442_neighborhood_function: at 16 s, 8 s and 4-8 s
    * at sf0.1 on 4 cores they would not fit the run budget.
    */
  val heavy = Seq("q336_rouge_bigram", "q377_revenue_recognition")
  /** A sample of the rest, drawn once and fixed so every run measures the
    * same list: Python's random.Random(7).sample over the sorted names of the
    * read-only queries that ran on the generated sf0.001 tables (the first
    * 122 candidates in source-file order were surveyed), in draw order,
    * keeping the first four that ran under 0.5 s warm at sf0.1.
    */
  val sample = Seq("q21_bool_any_agg", "q45_fail_calc_threshold", "q392_cochran_armitage",
    "q18_age_at")

  val queryMix: Seq[String] = gapFamily ++ relational ++ heavy ++ sample

  /** The four slowest queries of the list, warm at sf0.1 on 4 cores. */
  val slowest = Set("q187_continuous_enrollment", "q12_member_cost_summary",
    "q336_rouge_bigram", "q377_revenue_recognition")

}

/** Read-only SparkEntry queries, each op = build the DataFrame (the query
  * function call) + execute it (the fingerprint action). Every pass runs
  * the whole list in a seed-shuffled order.
  */
final class QueryWorkload(queries: Seq[String], dataDir: String,
    warmDir: String, seed: Long, passes: Int, golden: Map[String, String])
    extends Workload {

  private val fns = queries.map { q =>
    q -> SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
  }

  private def op(spark: SparkSession, runner: OpRunner, tracer: Tracer, id: Int,
      q: String, fn: (SparkSession, String) => DataFrame, dir: String): OpResult = {
    val t0 = System.nanoTime()
    val r = runner(id, q) {
      tracer.span(q, "op", id) {
        val df = tracer.span("build", "build", id)(fn(spark, dir))
        tracer.span("execute", "execute", id)(Fingerprint.of(df))
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    r.fold(e => OpResult(q, "query", s, ok = false, Some(e)),
      fp => OpResult(q, "query", s, ok = true, None, Some(fp)))
  }

  private val tables = Seq("customer", "orders", "lineitem", "nation", "region", "part",
    "supplier", "documents")

  def stage(spark: SparkSession): Unit =
    Seq(dataDir, warmDir).foreach(d => tables.foreach(t => Sources.table(spark, d, t).schema))

  private def untimed(spark: SparkSession, runner: OpRunner, dir: String,
      qs: Seq[String]): Unit =
    qs.foreach(q => op(spark, runner, new Tracer(false), 0, q, SparkEntry.queries(q), dir))

  /** The gap model on the sf0.001 tables. */
  def warmup(spark: SparkSession, runner: OpRunner): Unit =
    untimed(spark, runner, warmDir, Seq("q03_gap_col_status"))

  /** One untimed pass over the list: the four slowest queries, which take
    * 1.4-4 s each at sf0.1, on the sf0.001 tables, the rest on the timed
    * tables. Their generated code then sits in the codegen cache, which the
    * pinned session sizes to hold it, and the JIT has compiled the hot
    * paths at the timed data size, so a timed query's time depends less on
    * which queries ran before it.
    */
  def prime(spark: SparkSession, runner: OpRunner): Unit = {
    val (slow, rest) = queries.partition(QueryLists.slowest.contains)
    untimed(spark, runner, warmDir, slow)
    untimed(spark, runner, dataDir, rest)
  }

  def timed(spark: SparkSession, runner: OpRunner, tracer: Tracer): TimedResult = {
    val t0 = System.nanoTime()
    var id = 0
    val ops = (1 to passes).flatMap { p =>
      new scala.util.Random(seed * 1000003L + p).shuffle(fns).map { case (q, fn) =>
        id += 1
        op(spark, runner, tracer, id, q, fn, dataDir)
      }
    }
    TimedResult(ops, (System.nanoTime() - t0) / 1e9, Map.empty)
  }

  def verify(spark: SparkSession, result: TimedResult): Seq[String] =
    result.ops.filter(_.ok).flatMap { o =>
      golden.get(o.name) match {
        case None => Seq(s"${o.name}: no golden fingerprint")
        case Some(g) if o.fingerprint.contains(g) => Nil
        case Some(g) => Seq(s"${o.name}: fingerprint ${o.fingerprint.get} != golden $g")
      }
    }.distinct

  def inputs: Map[String, Any] = Map("data" -> dataDir, "queries" -> queries.size,
    "passes" -> passes)
}

/** The paper's pipeline as a Registry DAG over a scratch Warehouse: one
  * full build, then K refreshes, each preceded by landing a seed-drawn batch
  * of new and corrected claims through Warehouse.append.
  */
final class MartRefresh(dataDir: String, warmDir: String, scratch: String, seed: Long,
    refreshes: Int, batchNew: Int, batchCorrected: Int) extends Workload {
  private val asOf = LocalDate.of(2000, 12, 31)
  private val exceptionTs = Timestamp.valueOf("2001-01-15 00:00:00")
  private var generation = 0
  private var wh: Warehouse = _
  private var tracer = new Tracer(false)
  private val testFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  // ---- the model DAG ------------------------------------------------------

  private def stgMembers = Model("stg_members", Seq("customer"), TableMat(), ctx =>
    ctx.ref("customer").select(
      col("c_custkey").cast("long").as("member_id"),
      date_add(to_date(lit("1940-01-01")), (col("c_custkey") % 20000).cast("int")).as("birth_date"),
      col("c_mktsegment").as("plan"),
      when(col("c_acctbal") < 0, lit(1)).otherwise(lit(0)).as("in_hospice")))

  /** Latest landed version of each claim; incremental runs read only the
    * batches above the target's high-water mark.
    */
  private def stgClaims(w: Warehouse) = Model("stg_claims", Seq("raw_claims", "stg_members"),
    IncrementalMat(Incremental.Merge, Seq("claim_id")), ctx => {
      val raw = ctx.ref("raw_claims")
      val delta = if (!ctx.isIncremental) raw else {
        val hw = ctx.existingTarget.get.agg(max(col("batch_id"))).head().getInt(0)
        raw.filter(col("batch_id") > hw)
      }
      delta.withColumn("__rn", row_number().over(
          Window.partitionBy(col("claim_id")).orderBy(col("batch_id").desc)))
        .filter(col("__rn") === 1).drop("__rn")
    },
    tests = Seq(
      ModelTest("unique_claim_id", GenericTests.unique(_, "claim_id")),
      ModelTest("not_null_member_id", GenericTests.notNull(_, "member_id")),
      ModelTest("relationships_member_id", df =>
        GenericTests.relationships(df, "member_id", w.read("stg_members"), "member_id"))))

  private def gapStatus = Model("int_gap_col_status", Seq("stg_claims", "stg_members"),
    TableMat(), ctx => {
      val m = ctx.ref("stg_members")
      val events = ctx.ref("stg_claims").select(col("claim_id").as("evidence_id"),
        col("member_id"), col("service_date").as("event_date"), col("proc_code").as("code"))
      GapEngine.status(ctx.spark, m.select("member_id", "birth_date"), events,
        CoreQueries.colSpec,
        Seq("in_hospice" -> m.filter(col("in_hospice") === 1).select("member_id")), asOf)
    })

  /** Tri-state violations over a deterministically corrupted copy of the
    * gap model, so every rule family fires.
    */
  private def violations = Model("int_gap_col_violations", Seq("int_gap_col_status"),
    ViewMat, ctx => {
      val g = ctx.ref("int_gap_col_status")
      val corrupt = g.select(col("member_id"), col("measure_id"), col("measurement_year"),
        when(col("member_id") % 89 === 0, lit(7)).otherwise(col("gap_flag")).as("gap_flag"),
        col("closure_date"),
        when(col("gap_flag") === 1 && col("member_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("closure_reason")).as("closure_reason"),
        when(col("gap_flag").isNull && col("member_id") % 11 === 0, lit(4242L))
          .otherwise(col("evidence_id")).as("evidence_id"))
      val rules = TriStateRules(flagCol = "gap_flag",
        pkCols = Seq("member_id", "measure_id", "measurement_year"),
        closedRequires = Seq("closure_date", "closure_reason", "evidence_id"),
        notQualifiedForbids = Seq("closure_date", "closure_reason", "evidence_id"))
      GapExceptions.violationsModel(rules.violations(corrupt), exceptionTs,
        "COL_V1", "COL_TRI_STATE", "COL")
    })

  private def exceptions = Model("fct_gap_exceptions", Seq("int_gap_col_violations"),
    IncrementalMat(Incremental.Merge, Seq("exception_key")), ctx => {
      val keyed = GapExceptions.withExceptionKey(ctx.ref("int_gap_col_violations"))
      if (!ctx.isIncremental) keyed
      else GapExceptions.newExceptions(keyed, ctx.existingTarget.get)
    },
    tests = Seq(ModelTest("unique_exception_key", GenericTests.unique(_, "exception_key"))))

  private def snapshot(ts: Timestamp) = Model("snap_member_gap", Seq("int_gap_col_status"),
    SnapshotMat(Seq("member_id"), Snapshot.CheckStrategy(Seq("gap_flag", "closure_reason"), ts),
      Snapshot.IgnoreDeletes, ts), ctx =>
      ctx.ref("int_gap_col_status").select(col("member_id"),
        coalesce(col("gap_flag"), lit(-1)).as("gap_flag"),
        coalesce(col("closure_reason"), lit("NONE")).as("closure_reason")))

  private def registry(spark: SparkSession, w: Warehouse, dir: String, run: Int,
      op: Int): Registry = {
    val ts = Timestamp.valueOf(asOf.plusDays(1L + run).atStartOfDay())
    val raw = tracer.span("warehouse.read", "warehouse.read", op)(w.read("raw_claims"))
    new Registry(spark, w)
      .source("raw_claims", raw)
      .source("customer", Sources.table(spark, dir, "customer"))
      .register(stgMembers).register(stgClaims(w)).register(gapStatus)
      .register(violations).register(exceptions).register(snapshot(ts))
  }

  /** Runs the DAG and records any failed model test or pending retry. */
  private def runDag(spark: SparkSession, w: Warehouse, dir: String, run: Int, op: Int,
      full: Boolean, select: Seq[String] = Nil): Unit = {
    val reg = registry(spark, w, dir, run, op)
    tracer.span("registry.run", "registry", op)(reg.run(fullRefresh = full, select = select))
    reg.testResults.filter(_.failures != 0).foreach(t =>
      testFailures += s"run $run: test ${t.name} failed ${t.failures} rows")
    if (reg.retryPending.nonEmpty)
      testFailures += s"run $run: retryPending ${reg.retryPending.mkString(",")}"
  }

  // ---- landed inputs ------------------------------------------------------

  private val rawSchema = StructType(Seq(
    StructField("claim_id", LongType), StructField("member_id", LongType),
    StructField("service_date", DateType), StructField("proc_code", StringType),
    StructField("billed", DoubleType), StructField("batch_id", IntegerType)))

  private def initialClaims(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("claim_id"),
      col("o_custkey").cast("long").as("member_id"),
      col("o_orderdate").cast("date").as("service_date"),
      upper(col("o_orderpriority")).as("proc_code"),
      col("o_totalprice").as("billed"),
      lit(0).as("batch_id"))

  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Batch `k`: `batchNew` new claims for existing members plus
    * `batchCorrected` re-landed existing claims with a corrected billed
    * amount. Corrections keep the clinical fields, so gap closure only
    * moves forward and the incremental marts stay comparable to a full
    * rebuild.
    */
  private def batch(spark: SparkSession, dir: String, k: Int, nNew: Int, nCorr: Int,
      nMembers: Long, nClaims: Long): DataFrame = {
    val rnd = new scala.util.Random(seed * 7919L + k)
    val day0 = LocalDate.of(1995, 1, 1)
    val span = (asOf.toEpochDay - day0.toEpochDay).toInt + 1
    val fresh = (0 until nNew).map { j =>
      Row(2000000000L + k * 1000000L + j, (rnd.nextDouble() * nMembers).toLong,
        Date.valueOf(day0.plusDays(rnd.nextInt(span).toLong)),
        priorities(rnd.nextInt(priorities.size)),
        (100000 + rnd.nextInt(49900000)) / 100.0, k)
    }
    val corrected = Seq.fill(nCorr)((rnd.nextDouble() * nClaims).toLong).distinct
    spark.createDataFrame(spark.sparkContext.parallelize(fresh, 1), rawSchema)
      .unionByName(initialClaims(spark, dir)
        .filter(col("claim_id").isin(corrected: _*))
        .withColumn("billed", round(col("billed") + lit(k * 1.25), 2))
        .withColumn("batch_id", lit(k)))
  }

  // ---- workload phases ----------------------------------------------------

  private def freshWarehouse(spark: SparkSession, tag: String): Warehouse = {
    generation += 1
    val root = new java.io.File(scratch, s"$tag-$generation")
    deleteTree(root)
    root.mkdirs()
    new Warehouse(root.getPath, spark)
  }

  private var nMembers, nClaims = 0L

  def stage(spark: SparkSession): Unit = {
    cleanup()
    testFailures.clear()
    wh = freshWarehouse(spark, "wh")
    wh.append("raw_claims", initialClaims(spark, dataDir))
    nMembers = Sources.table(spark, dataDir, "customer").count()
    nClaims = Sources.table(spark, dataDir, "orders").count()
  }

  private var warm: Warehouse = _

  /** Lands the sf0.001 claims and builds the staging models from them. */
  def warmup(spark: SparkSession, runner: OpRunner): Unit = {
    warm = freshWarehouse(spark, "warm")
    untimed(runner, "warm-up") {
      warm.append("raw_claims", initialClaims(spark, warmDir))
      runDag(spark, warm, warmDir, 0, 0, full = true, select = Seq("stg_claims"))
    }
  }

  /** Lands one sf0.001 batch and runs the whole DAG over the staging
    * models the warm-up built: `stg_claims` refreshes incrementally and the
    * other models get their first build, so both paths have run, and their
    * generated code is cached, before timing.
    */
  def prime(spark: SparkSession, runner: OpRunner): Unit = {
    untimed(runner, "prime") {
      warm.append("raw_claims", batch(spark, warmDir, 1, 30, 10, 150L, 1500L))
      runDag(spark, warm, warmDir, 1, 0, full = false)
    }
    deleteTree(new java.io.File(warm.root))
  }

  private def untimed(runner: OpRunner, what: String)(body: => Unit): Unit = {
    runner(0, what)(body).left.foreach(e =>
      throw new IllegalStateException(s"$what failed: $e"))
    testFailures.clear()
  }

  def timed(spark: SparkSession, runner: OpRunner, tr: Tracer): TimedResult = {
    tracer = tr
    val t0 = System.nanoTime()
    def timedOp(id: Int, opName: String, kind: String)(body: => Long): OpResult = {
      val s0 = System.nanoTime()
      val r = runner(id, opName)(tracer.span(opName, "op", id)(body))
      val s = (System.nanoTime() - s0) / 1e9
      r.fold(e => OpResult(opName, kind, s, ok = false, Some(e)),
        rows => OpResult(opName, kind, s, ok = true, None, rows = rows))
    }
    val build = timedOp(1, "full_build", "build") {
      runDag(spark, wh, dataDir, 0, 1, full = true); 0L
    }
    val refreshOps = (1 to refreshes).map { k =>
      timedOp(k + 1, s"refresh_$k", "refresh") {
        val b = batch(spark, dataDir, k, batchNew, batchCorrected, nMembers, nClaims)
        tracer.span("warehouse.append", "warehouse.land", k + 1)(wh.append("raw_claims", b))
        runDag(spark, wh, dataDir, k, k + 1, full = false)
        batchNew + batchCorrected.toLong
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val whBytes = treeBytes(new java.io.File(wh.root))
    val rawBytes = treeBytes(new java.io.File(wh.root, "raw_claims"))
    tracer = new Tracer(false)
    TimedResult(build +: refreshOps, wall, Map(
      "storage_amp" -> whBytes.toDouble / math.max(rawBytes, 1L),
      "warehouse_files" -> treeFiles(new java.io.File(wh.root)).toDouble,
      "warehouse_bytes" -> whBytes.toDouble))
  }

  /** After the last refresh every incremental and snapshot relation must
    * multiset-equal a full-refresh build over the same landed inputs, no
    * retry may be pending and every model test must have passed.
    */
  def verify(spark: SparkSession, result: TimedResult): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String] ++ testFailures
    if (result.ops.forall(_.ok)) {
      val ref = freshWarehouse(spark, "ref")
      ref.append("raw_claims", wh.read("raw_claims"))
      runDag(spark, ref, dataDir, refreshes, 0, full = true)
      problems ++= testFailures.drop(problems.size)
      def current(w: Warehouse) = w.read("snap_member_gap")
        .filter(col("dbt_valid_to").isNull).select("member_id", "gap_flag", "closure_reason")
      val pairs = Seq("stg_claims", "fct_gap_exceptions")
        .map(t => t -> (wh.read(t), ref.read(t))) :+
        ("snap_member_gap (current rows)" -> (current(wh), current(ref)))
      pairs.foreach { case (t, (a, b)) =>
        if (!Checks.multisetEqual(a, b.select(a.columns.map(col).toIndexedSeq: _*)))
          problems += s"$t: incremental state differs from a full-refresh build"
      }
      val versions = wh.read("snap_member_gap").count()
      val members = wh.read("snap_member_gap").select("member_id").distinct().count()
      if (refreshes > 0 && versions <= members)
        problems += "snap_member_gap: no member changed across the refreshes"
    }
    problems.toSeq
  }

  def inputs: Map[String, Any] = Map("data" -> dataDir, "refreshes" -> refreshes,
    "batch_new_claims" -> batchNew, "batch_corrected_claims" -> batchCorrected,
    "initial_claims" -> nClaims, "members" -> nMembers)

  override def cleanup(): Unit = {
    val d = new java.io.File(scratch)
    Option(d.listFiles()).foreach(_.foreach(deleteTree))
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
  private def treeBytes(f: java.io.File): Long = walk(f).map(_.length).sum
  private def treeFiles(f: java.io.File): Long =
    walk(f).count(x => x.getName.endsWith(".parquet")).toLong
}
