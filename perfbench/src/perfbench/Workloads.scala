package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.embed.{Embedder, HashingEmbedder}
import graft.index.VectorIndex
import graft.ingest.DocxReader
import graft.ops.{ChunkText, Dedup, Functions, TextAnalysis, TextSanitize, TextSearch}
import graft.pipeline.{Curate, Extract, IndexRefresh, MergeTable}
import graft.streaming.StreamingIngest

/** Everything a workload needs from the command line and the session. */
final case class Ctx(
    spark: SparkSession,
    work: File,
    seed: Long,
    seconds: Double,
    cores: Int,
    sloMs: Double,
    traced: Boolean)

/** What one phase of a workload measured. A run has an untraced phase
  * (every end-to-end metric) and, with `--trace 1`, a traced phase of the
  * same work (every per-layer metric). */
final class Phase(val tracer: Tracer) {
  /** write batches: sections in, milliseconds from submit to commit */
  val writeMs = ArrayBuffer[Double]()
  val writeSections = ArrayBuffer[Long]()
  /** the workload's primary operation (pass, question or round) */
  val opMs = new Samples
  /** every question, and the questions of each path */
  val questionMs = new Samples
  val pathMs: Map[String, Samples] = Workloads.Paths.map(_ -> new Samples).toMap
  val attempted = new AtomicInteger
  val failed = new AtomicInteger
  /** per-layer counters that are not span times */
  val layer = scala.collection.mutable.LinkedHashMap[String, Double]()
}

/** Correctness checks; every run evaluates them outside the timed region. */
final class Checks {
  private val results = ArrayBuffer[(String, Boolean)]()
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    results += ((name, ok))
    if (!ok) System.err.println(s"CHECK FAILED: $name $detail")
  }
  def allOk: Boolean = results.forall(_._2)
  def summary: Seq[(String, Boolean)] = results.toSeq
}

object Workloads {
  val IngestBuckets = 8
  val IvfLists = 8
  val IvfProbe = 4
  val TopK = 5
  val Threshold = 0.5
  /** The question paths: exact top-5 (the reference's path), IVF + int8
    * re-rank, and hybrid BM25 + vector fused by RRF. Each path's latency
    * is an end-to-end metric of its own, so a question mix never decides
    * which path a percentile falls on. */
  val Paths = Seq("exact", "ivf", "hybrid")
  /** questions per closed-loop burst after each ingest pass and refresh
    * round: (exact, IVF, hybrid) */
  val QuestionsPerPass = (50, 12, 6)
  val QuestionsPerRound = (50, 10, 6)
  /** an untraced run asks at least this many exact questions, so that at
    * least 10 lie beyond their p90 */
  val MinExactQuestions = 100

  private val embedder = HashingEmbedder()

  // ------------------------------------------------------------- helpers

  private def persistCount(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Run `body` `reps` times; returns the last result and each wall time. */
  private def repeat[A](reps: Int)(body: Int => A): (A, Seq[Double]) = {
    var last: A = null.asInstanceOf[A]
    val ms = (0 until reps).map { i => val (r, t) = Clock.timed(body(i)); last = r; t }
    (last, ms)
  }

  /** Repeats `op` until `seconds` passed and, in an untraced run, at least
    * 2 operations ran and `MinExactQuestions` exact questions were asked.
    * A traced run reports no end-to-end metric, so one untraced and one
    * traced operation suffice. Before each operation the heap is settled
    * and its live size recorded for `peak_rss_mb`. */
  private def loopFor(c: Ctx, p: Phase)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val (minOps, minExact) = if (c.traced) (1, 0) else (2, MinExactQuestions)
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < c.seconds || i < minOps ||
        p.pathMs("exact").size < minExact) {
      Main.settleHeap()
      op(i); i += 1
    }
  }

  /** A traced run reports no question latency, so only its traced phase
    * asks questions (for the query layers' spans). */
  private def asksQuestions(c: Ctx, p: Phase): Boolean = !c.traced || p.tracer.enabled

  /** Plain-Scala exact top-k with the engine's order (score desc, id asc). */
  def bruteTopK(rows: Seq[(String, Array[Double])], q: Array[Double], k: Int): Seq[(String, Double)] = {
    val n = math.sqrt(q.map(x => x * x).sum)
    val qn = if (n > 0) q.map(_ / n) else q
    rows.iterator.map { case (id, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * qn(i); i += 1 }
      (id, s)
    }.filter(_._2 >= Threshold).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Engine ids equal brute-force ids, allowing ties within 1e-9 to swap. */
  def sameTopK(got: Seq[String], want: Seq[(String, Double)], scores: Map[String, Double]): Boolean =
    got == want.map(_._1) || (got.size == want.size &&
      got.zip(want).forall { case (g, (_, s)) => scores.get(g).exists(x => math.abs(x - s) < 1e-9) })

  def collectIndex(spark: SparkSession, dir: String, version: Int = -1): Seq[(String, Array[Double])] =
    MergeTable.read(spark, dir, version).select("id", "embedding").collect().toSeq
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))

  def chunkTexts(spark: SparkSession, dir: String): IndexedSeq[(String, String)] =
    MergeTable.read(spark, dir).select("id", "chunk_text").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toIndexedSeq

  def queryVec(t: Tracer, text: String): Array[Double] =
    t.span("embed.query")(embedder.embed(text).map(_.toDouble))

  /** Exact top-k on one committed index version: the reference's path. */
  def askExact(t: Tracer, spark: SparkSession, dir: String, version: Int,
      q: Array[Double], k: Int = TopK, spanName: String = "index.exact"): Seq[(String, Double)] = {
    val ix = t.span("pipeline.read")(MergeTable.read(spark, dir, version))
    t.span(spanName)(VectorIndex.search(ix, q, k, Threshold, normalizedInput = true)
      .select("id", "score").collect().toSeq.map(r => (r.getString(0), r.getDouble(1))))
  }

  /** Closed loop: `cores` clients ask `qs` in turn, each question timed
    * from its start. Returns the answers in question order. */
  private def closedLoop[A](cores: Int, p: Phase, qs: IndexedSeq[Gen.Question])(
      ask: Gen.Question => A): IndexedSeq[Option[A]] = {
    val pool = Executors.newFixedThreadPool(cores)
    try {
      val fs = qs.map { q =>
        pool.submit(new Callable[Option[A]] {
          def call(): Option[A] = {
            p.attempted.incrementAndGet()
            val t0 = System.nanoTime()
            try {
              val a = p.tracer.span("op.question")(ask(q))
              val ms = (System.nanoTime() - t0) / 1e6
              p.questionMs.add(ms)
              p.pathMs(q.path).add(ms)
              Some(a)
            } catch { case e: Exception =>
              p.failed.incrementAndGet(); System.err.println(s"question failed: $e"); None
            }
          }
        })
      }
      fs.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  // ------------------------------------------------------ ingest_manuals

  val Products = 4
  val Versions = 3
  val SectionsPerManual = 12

  /** curated doc id = `<file>#<sec_id>` (the generator's `Gen.docId`) */
  def sectionDocs(sections: DataFrame): DataFrame =
    sections.select(
      concat(col("doc_id"), lit("#"), lpad(col("sec_id").cast("string"), 4, "0")).as("doc_id"),
      col("text"))

  final case class PassOut(sections: Long, chunks: Long, exactDropped: Long, nearDropped: Long)

  /** The ingest pass as a user runs it: DOCX → sections → `Curate.run`
    * (default config) → `MergeTable.create`. */
  def ingestPass(spark: SparkSession, docx: String, out: String): PassOut = {
    val docs = sectionDocs(Extract.sections(DocxReader.read(spark, docx)))
    val (index, rep) = Curate.run(docs)
    MergeTable.create(spark, out, index, "id", IngestBuckets)
    index.unpersist()
    PassOut(rep.input, rep.chunks, rep.afterLang - rep.afterExact,
      rep.afterExact - rep.afterNearDup)
  }

  /** The chunk → embed → normalize stages of `StreamingIngest.ingestBatch`,
    * each persisted and counted inside its own span. */
  def ingestStagesTraced(t: Tracer, docs: DataFrame, emb: Embedder = embedder,
      size: Int = ChunkText.DefaultChunkSize, overlap: Int = ChunkText.DefaultOverlap)
      : (DataFrame, Long, Seq[DataFrame]) = {
    val (chunked, nChunks) = t.span("ops.chunk")(persistCount(
      ChunkText.explodeChunks(docs, "text", size, overlap)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))))
    t.count("ops.chunks", nChunks.toDouble)
    val (embedded, _) = t.span("embed.embed")(persistCount(
      Embedder.embedColumn(chunked, "chunk_text", emb)))
    val (index, n) = t.span("index.normalize")(persistCount(
      VectorIndex.withNormalized(embedded)
        .withColumn("id", Functions.contentId(col("doc_id"), col("chunk_idx"), col("chunk_text")))
        .select("id", "doc_id", "chunk_idx", "chunk_text", "embedding")))
    (index, n, Seq(chunked, embedded))
  }

  /** The same pass with `Curate.run` unrolled into the public stage
    * functions it sequences (default config), in its order, each stage
    * persisted and counted inside its span. */
  def ingestPassTraced(t: Tracer, spark: SparkSession, docx: String, out: String): PassOut = {
    val cfg = Curate.Config()
    val (blocks, nBlocks) = t.span("ingest.parse")(persistCount(DocxReader.read(spark, docx)))
    val (docs, nSections) = t.span("ops.sectionize")(persistCount(
      sectionDocs(Extract.sections(blocks))))
    val (langed, nLang) = t.span("ops.quality") {
      val (quality, _) = persistCount(
        docs.withColumn("text", TextSanitize.sanitize(col("text")))
          .withColumn("__q", TextAnalysis.qualityScore(col("text")))
          .filter(col("__q") >= cfg.minQuality).drop("__q"))
      val r = persistCount(quality.filter(
        TextAnalysis.langId(col("text")).getField("lang").isin(cfg.languages: _*)))
      quality.unpersist(); r
    }
    val (exact, nExact) = t.span("ops.dedup_exact")(persistCount(Dedup.dropExactDups(langed)))
    val (deduped, nNear) = t.span("ops.dedup_minhash") {
      val pairs = Dedup.minHashPairs(exact, threshold = cfg.jaccardThreshold).select("id_a", "id_b")
      persistCount(Dedup.dropNearDups(exact, pairs))
    }
    val (index, nChunks, stages) = ingestStagesTraced(t,
      deduped.select(col("doc_id").cast("string").as("doc_id"), col("text")),
      cfg.embedder, cfg.chunkSize, cfg.chunkOverlap)
    t.span("pipeline.create")(MergeTable.create(spark, out, index, "id", IngestBuckets))
    (Seq(blocks, docs, langed, exact, deduped, index) ++ stages).foreach(_.unpersist())
    t.count("ingest.blocks", nBlocks.toDouble)
    t.count("ops.sections", nSections.toDouble)
    PassOut(nSections, nChunks, nLang - nExact, nExact - nNear)
  }

  def ingestManuals(c: Ctx, checks: Checks, phases: Seq[Phase]): Seq[Double] = {
    val spark = c.spark
    val root = new File(c.work, "ingest")
    // warm-up: a small corpus through both pass variants and every
    // question path (untimed)
    val warm = new File(root, "warm")
    val warmOut = new File(root, "warm-out").getPath
    Gen.writeDocx(warm, Gen.corpus(c.seed + 1, 1, 2, 4))
    ingestPass(spark, warm.getPath, warmOut)
    if (c.traced) ingestPassTraced(new Tracer(false), spark, warm.getPath,
      new File(root, "warm-out2").getPath)
    val warmIvf = buildIvf(spark, warmOut, warmOut + "-ivf")
    Gen.questions(c.seed + 1, chunkTexts(spark, warmOut), 2, 1, 1)
      .foreach(q => ask(new Tracer(false), spark, warmOut, warmIvf, q, "index.exact"))
    Main.log("warm-up done")
    // set-up: generate the seeded manuals, write them as .docx files and
    // read them back through the engine's reader and sectionizer, as a
    // user checks a delivery of manuals (7 repetitions, the median counts)
    val ((corpus, docx, nRead), setupMs) = repeat(7) { i =>
      val corpus = Gen.corpus(c.seed, Products, Versions, SectionsPerManual)
      val dir = new File(root, s"docx$i")
      Gen.writeDocx(dir, corpus)
      (corpus, dir.getPath, Extract.sections(DocxReader.read(spark, dir.getPath)).count())
    }
    Main.log(f"set-up done: ${setupMs.map(_ / 1e3).mkString(", ")} s")
    val nSections = corpus.manuals.map(_.sections.size).sum
    checks("ingest.setup_reads_every_section", nRead == nSections,
      s"$nRead sections read vs $nSections written")
    val allIds = corpus.manuals.flatMap(m => m.sections.indices.map(i => Gen.docId(m.file, i + 1))).toSet
    var fingerprint: String = null
    var ivf: VectorIndex.IvfIndex = null
    var ivfRows: Seq[(String, Array[Double])] = null
    var passNo = 0
    val quality = phases.map(_ -> new Quality).toMap
    // with tracing, untraced and traced passes alternate, so JIT warm-up
    // drifts both alike and their difference is the tracing overhead
    loopFor(c, phases.head) { _ =>
      phases.foreach { p =>
        val t = p.tracer
        val out = new File(root, s"index$passNo").getPath
        passNo += 1
        p.attempted.incrementAndGet()
        val (res, ms) = Clock.timed(t.span("op.pass")(
          if (t.enabled) ingestPassTraced(t, spark, docx, out) else ingestPass(spark, docx, out)))
        p.writeMs += ms; p.writeSections += res.sections; p.opMs.add(ms)
        Main.log(f"pass $passNo: ${res.sections} sections, ${res.chunks} chunks, $ms%.0f ms")

        // checks and counters, outside the timed region
        val rows = collectIndex(spark, out)
        val ids = rows.map(_._1)
        checks("ingest.rows_equal_report_chunks", rows.size == res.chunks,
          s"${rows.size} rows vs ${res.chunks} chunks")
        checks("ingest.ids_unique", ids.distinct.size == ids.size)
        checks("ingest.vectors_dim_1024_unit_norm", rows.forall { case (_, v) =>
          v.length == 1024 && math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-6 })
        val fp = Main.sha256(ids.sorted.mkString("\n"))
        if (fingerprint == null) fingerprint = fp
        checks("ingest.fingerprint_same_across_passes", fp == fingerprint)
        val surviving = MergeTable.read(spark, out).select("doc_id").distinct()
          .collect().map(_.getString(0)).toSet
        val dropped = allIds -- surviving
        p.layer("ops.dedup_planted_recall") =
          corpus.planted.count(dropped.contains).toDouble / math.max(corpus.planted.size, 1)
        p.layer("ops.dedup_exact_dropped") = res.exactDropped.toDouble
        p.layer("ops.dedup_near_dropped") = res.nearDropped.toDouble
        p.layer("pipeline.bytes_written_mb") = dirBytes(new File(out)) / 1e6

        // the committed index serves a burst of questions from `cores`
        // clients. The IVF directory is built once (untimed), over the
        // first pass's index: every pass writes the same rows (the
        // fingerprint check above)
        if (asksQuestions(c, p)) {
          if (ivf == null) {
            ivf = buildIvf(spark, out, new File(root, "ivf").getPath)
            ivfRows = rows
          }
          val (nExact, nIvf, nHybrid) = QuestionsPerPass
          val qs = Gen.questions(c.seed + passNo, chunkTexts(spark, out), nExact, nIvf, nHybrid)
          val answers = closedLoop(c.cores, p, qs)(q => ask(t, spark, out, ivf, q, "index.exact"))
          checks("ingest.exact_top5_equals_brute_force",
            scoreBurst(quality(p), qs, answers, rows, ivfRows))
        }
        Main.log("pass checks and questions done")
        if (passNo > 2) deleteTree(new File(root, s"index${passNo - 3}"))
      }
    }
    quality.foreach { case (p, q) => q.record(p) }
    Main.checkStoredFingerprint(c, checks, "ingest_manuals", fingerprint)
    setupMs
  }

  /** Answer quality, summed over a phase's bursts. */
  final class Quality {
    var hits, hitBase, empty, answered, recallN = 0
    var recallSum = 0.0
    def record(p: Phase): Unit = {
      p.layer("index.hit_at_5") = hits.toDouble / math.max(hitBase, 1)
      p.layer("index.ivf_recall_at_5") = if (recallN == 0) 0.0 else recallSum / recallN
      p.layer("index.empty_frac") = empty.toDouble / math.max(answered, 1)
    }
  }

  /** Scores one burst answered on the index version `rows`: every fifth
    * exact answer must equal a plain-Scala brute-force top 5 (returns
    * whether they all did); hit@5 counts exact questions whose source chunk
    * is in their top 5, among those whose source chunk is still indexed;
    * IVF recall is against the brute-force top 5 over `ivfRows`, the rows
    * the IVF directory was built from. */
  def scoreBurst(q: Quality, qs: IndexedSeq[Gen.Question],
      answers: IndexedSeq[Option[Seq[(String, Double)]]], rows: Seq[(String, Array[Double])],
      ivfRows: Seq[(String, Array[Double])]): Boolean = {
    val byId = rows.toMap
    var ok = true
    qs.indices.foreach { i =>
      answers(i).foreach { got =>
        q.answered += 1
        if (got.isEmpty) q.empty += 1
        val qv = embedder.embed(qs(i).text).map(_.toDouble)
        qs(i).path match {
          case "exact" =>
            if (byId.contains(qs(i).sourceId)) {
              q.hitBase += 1
              if (got.exists(_._1 == qs(i).sourceId)) q.hits += 1
            }
            if (i % 5 == 0) {
              val qn = { val m = math.sqrt(qv.map(x => x * x).sum); qv.map(_ / m) }
              val scores = got.map(_._1).flatMap(id => byId.get(id).map(v =>
                id -> v.indices.map(j => v(j) * qn(j)).sum)).toMap
              ok &&= sameTopK(got.map(_._1), bruteTopK(rows, qv, TopK), scores)
            }
          case "ivf" =>
            val want = bruteTopK(ivfRows, qv, TopK).map(_._1).toSet
            q.recallN += 1
            q.recallSum += (if (want.isEmpty) 1.0
              else got.count(x => want.contains(x._1)).toDouble / want.size)
          case _ =>
        }
      }
    }
    ok
  }

  private def bm25Terms(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq

  /** Hybrid: BM25 top-10 and vector top-10, fused by reciprocal rank. */
  def askHybrid(t: Tracer, spark: SparkSession, dir: String, version: Int, text: String,
      qv: Array[Double], exactSpan: String): Seq[(String, Double)] = {
    import spark.implicits._
    val ix = t.span("pipeline.read")(MergeTable.read(spark, dir, version))
    val bm = t.span("ops.bm25")(TextSearch.rankTopN(
      TextSearch.bm25(ix, bm25Terms(text), textCol = "chunk_text", idCol = "id"), 10)
      .select("doc_id", "rank").as[(String, Int)].collect().toSeq)
    val vec = t.span(exactSpan)(TextSearch.rankTopN(
      VectorIndex.search(ix, qv, 10, Threshold, normalizedInput = true)
        .select(col("id").as("doc_id"), col("score")), 10)
      .select("doc_id", "rank").as[(String, Int)].collect().toSeq)
    t.span("ops.rrf")(TextSearch.rrfFuse(Seq(bm.toDF("doc_id", "rank"), vec.toDF("doc_id", "rank")))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(TopK)
      .as[(String, Double)].collect().toSeq)
  }

  /** One question on the index version current when it starts, by its
    * path; `exactSpan` names the exact search's span. */
  def ask(t: Tracer, spark: SparkSession, indexDir: String, ivf: VectorIndex.IvfIndex,
      q: Gen.Question, exactSpan: String): Seq[(String, Double)] = {
    import spark.implicits._
    val qv = queryVec(t, q.text)
    val v = t.span("pipeline.read")(MergeTable.latestVersion(spark, indexDir))
    q.path match {
      case "exact" => askExact(t, spark, indexDir, v, qv, spanName = exactSpan)
      case "ivf" => t.span("index.ivf")(
        VectorIndex.searchIvfReranked(ivf, qv, TopK, Threshold, IvfProbe)
          .select("id", "score").as[(String, Double)].collect().toSeq)
      case _ => askHybrid(t, spark, indexDir, v, q.text, qv, exactSpan)
    }
  }

  /** Writes an IVF directory (8 lists, int8 tier) over the latest version
    * of `indexDir` to `ivfDir` and loads it. */
  def buildIvf(spark: SparkSession, indexDir: String, ivfDir: String): VectorIndex.IvfIndex = {
    VectorIndex.writeIvf(VectorIndex.buildIvf(
      VectorIndex.withQuantized(MergeTable.read(spark, indexDir)), IvfLists), ivfDir)
    VectorIndex.loadIvf(spark, ivfDir)
  }

  // ---------------------------------------------------------- refresh_mixed

  val RefreshSections = 120
  val WarmSections = 24
  val CorpusBuckets = 8
  val IndexBuckets = 8
  val Updates = 8
  val Inserts = 2
  val Deletes = 2

  /** `IndexRefresh.refresh` unrolled into the public functions it calls,
    * in its order, with the change feed and the ingest stages persisted
    * and counted inside their spans. */
  def refreshTraced(t: Tracer, spark: SparkSession, corpusDir: String, indexDir: String,
      from: Int, to: Int): (Int, Long, Long) = {
    val ch = t.span("pipeline.changes") {
      val ch = MergeTable.changes(spark, corpusDir, from, to, "doc_id").persist()
      ch.count(); ch
    }
    try t.span("pipeline.refresh") {
      if (ch.isEmpty) (MergeTable.latestVersion(spark, indexDir), 0L, 0L)
      else {
        val oldDocs = MergeTable
          .readForKeys(spark, corpusDir, ch.select("doc_id"), "doc_id", version = from)
          .select("doc_id", "text")
        val oldIds = StreamingIngest.ingestBatch(oldDocs).select("id")
        val (newRows, nUp, stages) = ingestStagesTraced(t,
          ch.filter(col("_change") =!= "delete").select("doc_id", "text"))
        try {
          val gone = oldIds.join(newRows.select("id"), Seq("id"), "left_anti").distinct()
          val dels = gone.select(
            col("id") +: newRows.columns.filter(_ != "id").map(c =>
              lit(null).cast(newRows.schema(c).dataType).as(c)) :+
              lit(true).as("_del"): _*)
          val batch = newRows.withColumn("_del", lit(false)).unionByName(dels)
          val nDel = dels.count()
          val v = MergeTable.merge(spark, indexDir, batch, "id",
            deleteCol = Some("_del"), validate = false)
          (v, nUp, nDel)
        } finally (newRows +: stages).foreach(_.unpersist())
      }
    } finally ch.unpersist()
  }

  /** One writer round: the next edit batch merged into the corpus table,
    * then the index refreshed from the corpus change feed. Returns the
    * corpus version, index version, upserts, deletes, wall ms and edits. */
  private def round(t: Tracer, spark: SparkSession, stream: Gen.EditStream, corpusDir: String,
      indexDir: String, from: Int): (Int, Int, Long, Long, Double, Int) = {
    import spark.implicits._
    val edits = stream.next(Updates, Inserts, Deletes)
    val batch = edits.map(e => (e.docId, e.text, e.text == null)).toDF("doc_id", "text", "_del")
    val ((to, (iv, up, del)), ms) = Clock.timed(t.span("op.round") {
      val to = t.span("pipeline.corpus_merge")(
        MergeTable.merge(spark, corpusDir, batch, "doc_id", deleteCol = Some("_del")))
      (to, if (t.enabled) refreshTraced(t, spark, corpusDir, indexDir, from, to)
           else IndexRefresh.refresh(spark, corpusDir, indexDir, from, to))
    })
    (to, iv, up, del, ms, edits.size)
  }

  def refreshMixed(c: Ctx, checks: Checks, phases: Seq[Phase]): Seq[Double] = {
    val spark = c.spark
    import spark.implicits._
    val root = new File(c.work, "refresh")
    val sections = Gen.sectionTexts(c.seed, RefreshSections)
    // set-up: the keyed corpus table, the index built from it, and an
    // IVF directory over that first index version
    def setUp(name: String, docs: Seq[(String, String)]): (String, String) = {
      val corpusDir = new File(root, s"corpus-$name").getPath
      val indexDir = new File(root, s"index-$name").getPath
      MergeTable.create(spark, corpusDir, docs.toDF("doc_id", "text"), "doc_id", CorpusBuckets)
      IndexRefresh.build(spark, corpusDir, indexDir, nBuckets = IndexBuckets)
      buildIvf(spark, indexDir, indexDir + "-ivf")
      (corpusDir, indexDir)
    }

    // warm-up (untimed): a set-up, a round and each question path on a
    // small corpus, so the measured set-ups and rounds run warm
    locally {
      val small = sections.take(WarmSections)
      val (cd, id) = setUp("warm", small)
      val ivf0 = VectorIndex.loadIvf(spark, id + "-ivf")
      val qs = Gen.questions(c.seed + 1, chunkTexts(spark, id), 2, 1, 1)
      round(new Tracer(false), spark, new Gen.EditStream(c.seed + 1, small), cd, id, 1)
      closedLoop(c.cores, new Phase(new Tracer(false)), qs)(q =>
        ask(new Tracer(false), spark, id, ivf0, q, "index.search"))
    }
    Main.log("warm-up done")
    // set-up twice; `setup_s` is the median of the two (their mean)
    val (dirs, setupMs) = repeat(2)(i => setUp(i.toString, sections))
    Main.log(f"set-up done: ${setupMs.map(_ / 1e3).mkString(", ")} s")
    val (corpusDir, indexDir) = dirs
    val chunks = chunkTexts(spark, indexDir)
    val snapshot = collectIndex(spark, indexDir, 1)

    val ivf = VectorIndex.loadIvf(spark, indexDir + "-ivf")
    val stream = new Gen.EditStream(c.seed, sections)
    var from = 1
    var burst = 0
    final class Acc {
      val quality = new Quality
      var upserts, deletes, rewrittenBytes = 0L
    }
    val accs = phases.map(_ -> new Acc)
    // with tracing, untraced and traced rounds alternate (see ingestManuals)
    loopFor(c, phases.head) { _ =>
      accs.foreach { case (p, a) =>
        // the writer's round, then the readers on the new version
        val t = p.tracer
        p.attempted.incrementAndGet()
        val (to, iv, up, del, ms, nEdits) =
          try round(t, spark, stream, corpusDir, indexDir, from)
          catch { case e: Exception => p.failed.incrementAndGet(); throw e }
        from = to
        p.writeMs += ms; p.writeSections += nEdits; p.opMs.add(ms)
        a.upserts += up; a.deletes += del
        a.rewrittenBytes += dirBytes(new File(indexDir, s"v$iv"))
        Main.log(f"round: $nEdits edits, $up upserts, $del deletes, $ms%.0f ms")
        if (asksQuestions(c, p)) {
          burst += 1
          val (nExact, nIvf, nHybrid) = QuestionsPerRound
          val qs = Gen.questions(c.seed * 1000 + burst, chunks, nExact, nIvf, nHybrid)
          val answers = closedLoop(c.cores, p, qs)(q => ask(t, spark, indexDir, ivf, q, "index.search"))
          // every question of the burst read version `iv`: no writer runs
          // while the readers do
          checks("refresh.exact_top5_equals_brute_force",
            scoreBurst(a.quality, qs, answers, collectIndex(spark, indexDir, iv), snapshot))
        }
      }
    }

    accs.foreach { case (p, a) =>
      val rounds = math.max(p.opMs.size, 1).toDouble
      p.layer("pipeline.upserts") = a.upserts / rounds
      p.layer("pipeline.deletes") = a.deletes / rounds
      p.layer("pipeline.bytes_rewritten_per_upsert") =
        a.rewrittenBytes.toDouble / math.max(a.upserts, 1)
      p.layer("pipeline.index_files") =
        MergeTable.fileIndex(spark, indexDir).values.map(_.size).sum.toDouble
      a.quality.record(p)
    }

    // the maintained index equals a full build over the final corpus
    val corpusNow = MergeTable.read(spark, corpusDir).select("doc_id", "text")
      .as[(String, String)].collect().toMap
    checks("refresh.corpus_equals_edit_model", corpusNow == stream.current,
      s"${corpusNow.size} docs vs ${stream.current.size} expected")
    val rebuilt = new File(root, "rebuilt").getPath
    IndexRefresh.build(spark, corpusDir, rebuilt, nBuckets = IndexBuckets)
    val idsOf = (d: String) => MergeTable.read(spark, d).select("id").as[String].collect().toSet
    val (maintained, full) = (idsOf(indexDir), idsOf(rebuilt))
    checks("refresh.index_ids_equal_full_build", maintained == full,
      s"${(maintained -- full).size} extra, ${(full -- maintained).size} missing")
    setupMs
  }
}
