package perfbench

import java.io.{File, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** The benchmark's JVM side: one long-lived SparkSession on
  * `local[cores]`, one workload, one JSON result as the last stdout line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --slo-ms <ms> --work <dir> --state <dir> --build-key <hex>
  * }}}
  *
  * `perfbench/run.py` builds the classes and passes every argument. */
object Main {

  /** Spans reported per layer, with the unit of their time. */
  val SpanLayers: Seq[(String, String)] = Seq(
    "ingest.parse", "ops.sectionize", "ops.quality", "ops.dedup_exact", "ops.dedup_minhash",
    "ops.chunk", "embed.embed", "index.normalize", "pipeline.create", "embed.query",
    "pipeline.read", "index.exact", "index.ivf", "ops.bm25", "ops.rrf",
    "pipeline.corpus_merge", "pipeline.changes", "pipeline.refresh", "index.search")
    .map(n => n -> (if (n == "embed.query") "us" else "ms"))

  /** Per-layer metrics that are counts or ratios, with their units. */
  val CounterLayers: Seq[(String, String)] = Seq(
    "ingest.blocks" -> "count", "ops.sections" -> "count",
    "ops.dedup_exact_dropped" -> "count", "ops.dedup_near_dropped" -> "count",
    "ops.dedup_planted_recall" -> "frac", "ops.chunks" -> "count",
    "pipeline.bytes_written_mb" -> "MB", "index.hit_at_5" -> "frac",
    "index.ivf_recall_at_5" -> "frac", "index.empty_frac" -> "frac",
    "pipeline.upserts" -> "count", "pipeline.deletes" -> "count",
    "pipeline.bytes_rewritten_per_upsert" -> "B", "pipeline.index_files" -> "count",
    "trace.coverage_frac" -> "frac", "trace.overhead_frac" -> "frac")

  /** The primary operation of each workload, for coverage and overhead. */
  private val PrimaryOp = Map(
    "ingest_manuals" -> "op.pass", "refresh_mixed" -> "op.round")

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  private var stateDir: File = _
  private var buildKey: String = _
  private val started = System.nanoTime()

  /** Progress to stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  /** The output id-set fingerprint must repeat across runs of one seed on
    * one build: the first run of a build records it, later runs of the same
    * sources compare. A changed source makes a new build key, so a change
    * that rightly changes the ids starts a new record. */
  def checkStoredFingerprint(c: Ctx, checks: Checks, workload: String, fp: String): Unit = {
    val dir = new File(new File(stateDir, "fingerprints"), buildKey)
    dir.mkdirs()
    val f = new File(dir, s"$workload-seed${c.seed}.txt")
    if (f.exists()) {
      val prev = new String(Files.readAllBytes(f.toPath), UTF_8).trim
      checks(s"ingest.fingerprint_same_across_runs", prev == fp, s"$prev vs $fp")
    } else Files.write(f.toPath, fp.getBytes(UTF_8))
  }

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def loadAvg(): Double =
    new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8).split(" ")(0).toDouble

  /** MB/s of a 32 MB fsynced write into the work directory. */
  private def writeRate(dir: File): Double = {
    val f = new File(dir, "write-probe.bin")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    val out = new FileOutputStream(f)
    try { (0 until 32).foreach(_ => out.write(buf)); out.getFD.sync() } finally out.close()
    val s = (System.nanoTime() - t0) / 1e9
    f.delete()
    32 / s
  }

  /** The largest live heap seen at an operation boundary, in bytes. */
  @volatile private var liveHeapPeak = 0L

  /** A full collection, then the heap it leaves: what the program holds
    * between operations, not how far the collector let garbage pile up.
    * Called outside every timed region. */
  def settleHeap(): Unit = {
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    stateDir = new File(a("state"))
    buildKey = a("build-key")
    work.mkdirs(); stateDir.mkdirs()
    val cores = a("cores").toInt
    val load0 = loadAvg()
    val jit = ManagementFactory.getCompilationMXBean

    val spark = graft.Graft.session(cores)
    log(s"session up on local[$cores]")
    val c = Ctx(spark, work, a("seed").toLong, a("seconds").toDouble, cores,
      a("slo-ms").toDouble, traced)
    val tracer = new Tracer(traced)
    tracer.attach(spark.sparkContext)
    val phases = new Phase(new Tracer(false)) +: (if (traced) Seq(new Phase(tracer)) else Nil)
    val checks = new Checks

    val setupMs = workload match {
      case "ingest_manuals" => Workloads.ingestManuals(c, checks, phases)
      case "refresh_mixed" => Workloads.refreshMixed(c, checks, phases)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    settleHeap()
    log("workload done")

    val p0 = phases.head
    val attempted = phases.map(_.attempted.get).sum
    val failed = phases.map(_.failed.get).sum
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6
    // the resident high-water mark without the fixed, pre-touched heap,
    // plus the largest heap the program held between operations
    val heapCommitted = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val offHeapMb = (procStatusKb("VmHWM") * 1024 - heapCommitted) / 1e6
    val heapPeakMb = liveHeapPeak / 1e6
    val peakMemMb = offHeapMb + heapPeakMb

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val q = p0.questionMs.values
        val qAttempted = q.size + p0.failed.get
        val exact = p0.pathMs("exact").values
        Seq(
          ("setup_s", Stats.median(setupMs) / 1e3, "s"),
          ("peak_rss_mb", peakMemMb, "MB"),
          ("ingest_sections_per_s", p0.writeSections.sum / (p0.writeMs.sum / 1e3), "1/s"),
          ("refresh_p50_ms", Stats.median(p0.writeMs.toSeq), "ms"),
          ("query_p50_ms", Stats.median(exact), "ms"),
          ("query_p90_ms", Stats.quantile(exact, 0.9), "ms"),
          ("query_ivf_p50_ms", Stats.median(p0.pathMs("ivf").values), "ms"),
          ("query_hybrid_p50_ms", Stats.median(p0.pathMs("hybrid").values), "ms"),
          ("query_slo_frac", q.count(_ <= c.sloMs).toDouble / math.max(qAttempted, 1), "frac"))
      } else {
        val pt = phases(1)
        val spans = tracer.finished()
        val countOf = spans.groupBy(_.name).map { case (k, v) => k -> v.size.toDouble }
        val counters = tracer.counterValues
        def perSpan(counter: String, span: String) =
          counters.getOrElse(counter, 0.0) / math.max(countOf.getOrElse(span, 0.0), 1.0)
        // self time of layer spans under each primary-op span
        val byId = spans.map(s => s.id -> s).toMap
        val op = PrimaryOp(workload)
        def rootOp(s: Tracer.Span): Option[Tracer.Span] =
          if (s.name == op) Some(s) else byId.get(s.parent).flatMap(rootOp)
        val layerNames = SpanLayers.map(_._1).toSet
        val covered = spans.filter(s => layerNames(s.name))
          .flatMap(s => rootOp(s).map(_.id -> s.selfNs / 1e6))
          .groupBy(_._1).values.map(_.map(_._2).sum).toSeq
        val untracedOp = Stats.median(p0.opMs.values)
        val layer = pt.layer.toMap ++ Map(
          "ingest.blocks" -> perSpan("ingest.blocks", "ingest.parse"),
          "ops.sections" -> perSpan("ops.sections", "ops.sectionize"),
          "ops.chunks" -> perSpan("ops.chunks", "ops.chunk"),
          "trace.coverage_frac" -> Stats.median(covered) / untracedOp,
          "trace.overhead_frac" -> (Stats.median(pt.opMs.values) / untracedOp - 1.0))
        tracer.summary(SpanLayers) ++ CounterLayers.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    val env = Map(
      "workload" -> workload, "seed" -> c.seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "vm_hwm_mb" -> procStatusKb("VmHWM") * 1024 / 1e6,
      "off_heap_resident_peak_mb" -> offHeapMb, "live_heap_peak_mb" -> heapPeakMb,
      "block_manager_storage_mb" -> storageMb,
      "load_avg_start" -> load0, "load_avg_end" -> loadAvg(),
      "jit_compile_ms" -> jit.getTotalCompilationTime.toDouble,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen_compile_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum,
      "code_cache_mb" -> codeCacheMb(),
      "scratch_write_mb_per_s" -> writeRate(work),
      "questions" -> p0.questionMs.size,
      "questions_by_path" -> p0.pathMs.map { case (k, v) => k -> v.size },
      "write_batches" -> p0.writeMs.size,
      "checks" -> checks.summary.map { case (n, ok) => n -> ok }.toMap,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    println(Json.obj(Seq("env" -> env)))

    if (traced) {
      val dir = new File(stateDir, "traces")
      dir.mkdirs()
      val f = new File(dir, s"$workload-seed${c.seed}.json")
      Files.write(f.toPath, tracer.toJson(Map("workload" -> workload, "seed" -> c.seed,
        "env" -> env)).getBytes(UTF_8))
      System.err.println(s"trace written to ${f.getPath}")
    }
    spark.stop()

    val ok = checks.allOk && failed == 0
    println(Json.obj(Seq(
      "correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })))))
    if (!ok) sys.exit(1)
  }
}
