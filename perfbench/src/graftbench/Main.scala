package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Benchmark entry point, launched by perfbench/run.py.
  *
  *   run    --workload W --seed N --seconds S --trace 0|1 --data D --out O ...
  *   probe  --cores C --scratch S --dir D --dump P   one JSON line per
  *          query_mix query: status and result fingerprint (golden upkeep)
  *
  * The last stdout line of `run` is `RESULT {json}`.
  */
object Main {
  /** The one pinned session configuration every run uses. */
  def sessionConf(cores: Int, scratch: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graftbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // Spark's default cache of 100 generated classes thrashes on either
    // workload, which makes a query's time depend on which queries ran
    // before it. Sized to hold every class a run generates.
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$scratch/spark-local",
    "spark.sql.warehouse.dir" -> s"$scratch/spark-warehouse")

  def startSession(conf: Seq[(String, String)]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def args2map(args: Array[String]): Map[String, String] =
    args.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = args2map(args)
    args.headOption match {
      case Some("run") => run(a)
      case Some("probe") => probe(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Golden upkeep: runs every query_mix query once, writes its output in
    * graft.Verify's dump layout (`<dump>/<query>/` parquet with timestamps
    * as TIMESTAMP_NTZ, plus `<dump>/oracle_sql.json`) for tools/check.py,
    * and prints the fingerprint of that written output, one JSON line per
    * query. The written output must fingerprint the same as the result
    * the benchmark itself fingerprints, or the query is reported failed.
    */
  private def probe(a: Map[String, String]): Unit = {
    val spark = startSession(sessionConf(a("cores").toInt, a("scratch")))
    val runner = new OpRunner(spark)
    val dump = a("dump")
    QueryLists.queryMix.foreach { q =>
      val r = runner(0, q) {
        val df = graft.SparkEntry.queries(q)(spark, a("dir"))
        val ts = df.schema.fields.filter(_.dataType == TimestampType).map(_.name).toSet
        df.select(df.columns.toIndexedSeq.map(c =>
            if (ts(c)) col(c).cast(TimestampNTZType).as(c) else col(c)): _*)
          .coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
        val back = spark.read.parquet(s"$dump/$q")
        val written = Fingerprint.of(back.select(back.columns.toIndexedSeq.map(c =>
          if (ts(c)) col(c).cast(TimestampType).as(c) else col(c)): _*))
        val direct = Fingerprint.of(df)
        if (written != direct)
          throw new IllegalStateException(s"written output $written != result $direct")
        written
      }
      println(Json.render(Map("query" -> q, "ok" -> r.isRight, "error" -> r.left.toOption,
        "fingerprint" -> r.toOption)))
    }
    val sql = graft.SparkEntry.oracleSql
    java.nio.file.Files.write(java.nio.file.Paths.get(dump, "oracle_sql.json"),
      Json.render(QueryLists.queryMix.map(q => q -> sql(q)).toMap).getBytes("UTF-8"))
    runner.shutdown()
    spark.stop()
  }

  /** golden.json: one flat object of query name -> fingerprint. */
  private def goldens(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def run(a: Map[String, String]): Unit = {
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val data = a("data")
    val scratch = a("scratch")
    val golden = goldens(a("golden"))
    val conf = sessionConf(cores, scratch)

    // Runs are sized from a fixed per-workload estimate of one pass, so a
    // given --seconds always does the same work and totals stay comparable.
    val w: Workload = workloadName match {
      case "query_mix" =>
        new QueryWorkload(QueryLists.queryMix, s"$data/sf0.1", s"$data/sf0.001", seed,
          passes = math.max(1, math.round(seconds / 25.0).toInt), golden)
      case "mart_refresh" =>
        new MartRefresh(s"$data/sf0.1", s"$data/sf0.001", s"$scratch/warehouses", seed,
          refreshes = math.max(1, math.round(seconds / 10.0).toInt), batchNew = 3000,
          batchCorrected = 1000)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: session start + fixture staging + warm-up, repeated ----
    var spark: SparkSession = null
    var runner: OpRunner = null
    val setupS = (1 to 3).map { _ =>
      if (spark != null) { runner.shutdown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = startSession(conf)
      runner = new OpRunner(spark)
      val t1 = System.nanoTime()
      w.stage(spark)
      val t2 = System.nanoTime()
      w.warmup(spark, runner)
      val t3 = System.nanoTime()
      log(f"setup: session ${(t1 - t0) / 1e9}%.2f s, staging ${(t2 - t1) / 1e9}%.2f s, " +
        f"warm-up ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    // The traced codegen counters start here. With the cache sized to hold
    // a run's classes, the prime makes most of the compiles a run pays.
    val cgPrime = Counters.codegen()
    val tp = System.nanoTime()
    w.prime(spark, runner)
    log(f"prime ${(System.nanoTime() - tp) / 1e9}%.2f s")

    // ---- timed section, tracing off ----
    val cg0 = Counters.codegen()
    val plain = w.timed(spark, runner, new Tracer(false))
    val heapMb = RetainedHeap.mb()
    val cg1 = Counters.codegen()
    val checks = w.verify(spark, plain)

    // ---- traced run: same work again, with spans and listener counters ----
    val traced = if (!trace) None else {
      w.stage(spark)
      val tracer = new Tracer(true)
      val counters = Counters.install(spark)
      val r = w.timed(spark, runner, tracer)
      val c1 = Counters.codegen()
      Counters.uninstall(spark, counters)
      val tChecks = w.verify(spark, r)
      val layers = LayerReport.metrics(tracer.spans, counters, r.wallS, cores,
        c1._1 - cgPrime._1, c1._2 - cgPrime._2, counters.outputBytes,
        r.extra.getOrElse("warehouse_files", 0.0).toLong) +
        ("trace.overhead_s" -> (r.wallS - plain.wallS))
      writeSpans(s"${a("out")}/spans.jsonl", tracer.spans)
      Some((r, tChecks, layers))
    }

    runner.shutdown()
    w.cleanup()
    spark.stop()

    val allChecks = checks ++ traced.toSeq.flatMap(_._2)
    val ops = plain.ops ++ traced.toSeq.flatMap(_._1.ops)
    val timedOps = plain.ops.filterNot(_.kind == "build")
    val lat = timedOps.map(o => if (o.ok) o.seconds else Double.PositiveInfinity)
    val (tail, beyond) = Stats.tail(lat)
    val okTime = timedOps.filter(_.ok).map(_.seconds).sum
    val e2e = Map[String, Any](
      "setup_s" -> Stats.median(setupS),
      "wall_s" -> plain.wallS,
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tail,
      "ops_per_min" -> (if (okTime > 0) timedOps.count(_.ok) * 60.0 / okTime else 0.0),
      "heap_retained_mb" -> heapMb)
    val build = plain.ops.find(_.kind == "build")
    val landed = timedOps.filter(_.ok).map(_.rows).sum
    val detail = Map[String, Any](
      "ops" -> timedOps.size,
      "op_tail_percentile" -> Stats.percentileRank(lat.size, beyond),
      "op_tail_samples_beyond" -> beyond,
      "setup_samples" -> setupS,
      "failed_ratio" -> plain.ops.count(!_.ok).toDouble / plain.ops.size,
      "full_build_s" -> build.map(_.seconds),
      "refresh_rows_per_s" -> (if (landed > 0) Some(landed / okTime) else None),
      "codegen_compiles_untraced" -> (cg1._2 - cg0._2)) ++ plain.extra
    val failures = ops.filterNot(_.ok).map(o => s"${o.name}: ${o.error.getOrElse("")}")
    println("RESULT " + Json.render(Map(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "correct" -> allChecks.isEmpty, "checks_failed" -> allChecks.take(20),
      "attempted" -> ops.size, "failed" -> ops.count(!_.ok),
      "errors" -> failures.distinct.take(20),
      "end_to_end" -> e2e, "detail" -> detail,
      "per_layer" -> traced.map(_._3),
      "inputs" -> w.inputs,
      "session_conf" -> (conf.toMap + ("spark.graft.scan.fanout" -> "unset (engine default)")),
      "op_seconds" -> plain.ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)))))
  }

  /** Progress lines go to stderr, which run.py keeps in the run's jvm.log. */
  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
