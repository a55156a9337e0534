package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import graft.eval.Metrics
import graft.index.{ClusterIndexBuilder, CodeAssigner, Codebook, HierarchicalKMeans, RQTrainer}
import graft.search.{BruteForceKNN, CodebookBeamSearch, CoarseFineRetriever, TopK}

/** A check on the engine's output failed: the run is not correct. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** The generated inputs of one set-up, persisted. */
final case class Data(docs: DataFrame, queries: DataFrame, truth: DataFrame,
    gt: Map[Long, Array[Long]], slices: IndexedSeq[DataFrame]) {
  def unpersist(): Unit = Seq(docs, queries, truth).foreach(_.unpersist())
}

/** A built index: RQ codebook + cluster inverted index, HKM levels. */
final case class Index(codebook: Codebook, cells: DataFrame, levels: DataFrame) {
  def unpersist(): Unit = cells.unpersist()
}

/** Retrieval benchmark. One run: set up (generate the seeded corpus and
  * queries, exact top-10 truth) several times, build the index once, then
  * serve large batches and small batches. The workload picks which kind of
  * batch loops for `--seconds`; the other kind runs for a shorter window,
  * so every run reports every metric.
  *
  * Usage: perfbench.Main --workload serve_batch|serve_small
  *   --seed N --seconds S --trace 0|1 [--state DIR]
  */
object Main {

  val Workloads = Seq("serve_batch", "serve_small")

  // Inputs. Sized so that a full benchmark (48 runs of about 60 s on a
  // 4-core host) fits its hour, while tasks (candidate fetch, rerank and
  // top-k above all) fill most of a large batch's retrieve time.
  val sizes = Sizes(docs = 8000, dim = 64, clusters = 80, zipf = 1.0,
    queries = 768, noise = 0.5)
  // Index geometry: RQ M=2 levels of K=32 (MEVI's shipped RQ config has
  // M=4, K=32), HKM k=32 to depth 2.
  val RqLevels = 2
  val RqK = 32
  val RqIter = 10
  val HkmK = 32
  val HkmDepth = 2
  // Serving: MEVI's batch evaluation shape, and a small budgeted batch.
  val Beams = 10
  val K = 100
  val TrieBeams = 10
  val SmallBatch = 64
  val SmallBeams = 4
  val SmallK = 10
  val Budget = 500
  // Repetitions and windows. The kind of batch a workload does not
  // measure for `--seconds` gets `OtherShare` of that, and at least
  // `MinServes` large batches or trie beams, or one small batch per slice.
  val Setups = 3
  val OtherShare = 0.5
  val MinServes = 6
  // Order and warm-up. The JIT compiles a cold path's code over many
  // calls, on the same four CPUs the tasks use, and how far it has got
  // differs from run to run. Measured first, a large batch (`retrieve` +
  // `Metrics.ranking`) took 12–13 CPU-seconds on its first call, 5–8 on
  // its second and 3–4 only from about the sixth, so its samples moved
  // with the JIT's pace. So the loops run small batches, then the trie
  // beam, then large batches: measured last, once the code it shares with
  // the others is compiled, the large batch ran about 20% faster and
  // spread less from run to run. Each loop also drops its first
  // `WarmLarge` or `WarmSmall` calls. The JIT never quite settles on
  // `retrieve`: each call loads about 25 new classes (`window_jit_ms` in
  // the context record gives the JIT's compile time in each window).
  val WarmLarge = 2
  val WarmSmall = 3
  // A serving sample taken while the hypervisor stole more than
  // `StealLimit` of the host's CPU time is set aside (and counted in the
  // context record): the host, not the program, set its time. Normal runs
  // here see 0.2% steal; bursts from other tenants reach tens of percent
  // and slow a whole phase by half. Timings use all samples when fewer
  // than `MinClean` are clean.
  val StealLimit = 0.05
  val MinClean = 3
  val FixedChains = 3
  // Absolute recall floors: far below what the engine reaches on these
  // inputs (~0.99), so only a broken retrieval path trips them.
  val RecallFloor = 0.9
  val SmallRecallFloor = 0.8

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (now() - t0) / 1e9
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case NonFatal(_) => "unknown" }

  /** (steal, total) jiffies of the host's CPUs since boot; steal is the
    * time a hypervisor gave this host's CPUs to someone else. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Milliseconds the JIT has spent compiling, over all its threads. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  // ---- ranked-output checks --------------------------------------------

  /** Checks a ranked list (query_id, rank, doc_id, score) and returns its
    * digest. At most `k` rows per query, ranks 1..n, scores non-increasing,
    * every doc in the corpus, every query of the batch answered. */
  def checkRanked(rows: Array[Row], k: Int, queryIds: Set[Long], nDocs: Long,
      what: String): String = {
    val byQ = rows.groupBy(_.getLong(0))
    check(byQ.keySet == queryIds,
      s"$what: answered ${byQ.size} of ${queryIds.size} queries")
    byQ.foreach { case (q, rs) =>
      check(rs.length <= k, s"$what: query $q has ${rs.length} > $k rows")
      val sorted = rs.sortBy(_.getInt(1))
      check(sorted.map(_.getInt(1)).toSeq == (1 to rs.length),
        s"$what: query $q ranks are not 1..${rs.length}")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          check(a.getDouble(3) >= b.getDouble(3), s"$what: query $q scores increase")
        case _ =>
      }
      rs.foreach { r =>
        val d = r.getLong(2)
        check(d >= 0 && d < nDocs, s"$what: query $q returned unknown doc $d")
      }
    }
    digest(rows.sortBy(r => (r.getLong(0), r.getInt(1))).iterator.map { r =>
      s"${r.getLong(0)},${r.getInt(1)},${r.getLong(2)}," +
        java.lang.Double.doubleToLongBits(r.getDouble(3))
    })
  }

  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Same operation, same inputs: same output on every repetition. */
  final class Digests {
    private val seen = mutable.Map.empty[String, String]
    def apply(key: String, d: String): Unit = seen.get(key) match {
      case Some(prev) => check(prev == d, s"$key: output changed between repetitions")
      case None => seen(key) = d
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val state = Paths.get(opts.getOrElse("state", ".bench_build/perfbench"))
    Files.createDirectories(state)

    val load0 = loadavg()
    val cpu0 = cpuJiffies()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", state.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val tr = new Tracer(spark.sparkContext, runId)

    val bench = new Bench(spark, cpus, seed, seconds, workload, trace, tr, state)
    val code =
      try {
        val (metrics, context) = bench.run()
        val ctx = context ++ Seq(
          "workload" -> s""""$workload"""", "seed" -> seed.toString,
          "seconds" -> seconds.toString, "trace" -> (if (trace) "1" else "0"),
          "run_id" -> s""""$runId"""", "master" -> s""""local[$cpus]"""",
          "host_cpus" -> cpus.toString,
          "loadavg_start" -> s""""$load0"""", "loadavg_end" -> s""""${loadavg()}"""",
          "cpu_steal_pct" -> {
            val (st, tot) = cpuJiffies()
            f"${100.0 * (st - cpu0._1) / math.max(tot - cpu0._2, 1L)}%.2f"
          },
          "sizes" -> (s"""{"docs":${sizes.docs},"dim":${sizes.dim},""" +
            s""""clusters":${sizes.clusters},"zipf":${sizes.zipf},""" +
            s""""queries":${sizes.queries},"noise":${sizes.noise}}"""))
        println(ctx.map { case (k, v) => s""""$k":$v""" }.mkString("""{"context":{""", ",", "}}"))
        val clean = bench.failed == 0
        val ms = metrics.map { case (n, (v, u)) =>
          require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
          s""""$n":{"value":$v,"unit":"$u"}"""
        }
        println(s"""{"correct":$clean,"attempted":${bench.attempted},""" +
          s""""failed":${bench.failed},"metrics":{${ms.mkString(",")}}}""")
        if (clean) 0 else 1
      } catch {
        case e: CheckFailed =>
          log(s"CHECK FAILED: ${e.getMessage}")
          println(s"""{"correct":false,"attempted":${math.max(bench.attempted, 1)},""" +
            s""""failed":${bench.failed},"metrics":{}}""")
          1
      } finally spark.stop()
    sys.exit(code)
  }

  /** Per query of an executed `retrieveBudgeted` batch: (clusters kept by
    * the budget prune, candidate docs fetched), read from the plan's own
    * row counters — the filter on the running window sum, and the explode
    * of cluster members. A plan without those nodes fails the run. */
  def budgetCounts(df: DataFrame): (Double, Double) = {
    val h = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    val windowed = h.collect(plan) { case w: WindowExec => w.windowExpression }
      .flatten.map(_.toAttribute.exprId).toSet
    val kept = h.collectFirst(plan) {
      case f: FilterExec if f.condition.references.exists(a => windowed(a.exprId)) =>
        f.metrics("numOutputRows").value
    }
    val cands = h.collectFirst(plan) {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "doc_id") =>
        g.metrics("numOutputRows").value
    }
    def perQuery(n: Option[Long], what: String): Double =
      n.getOrElse(throw new CheckFailed(s"trace: budget $what node not found in plan"))
        .toDouble / SmallBatch
    (perQuery(kept, "prune"), perQuery(cands, "explode"))
  }
}

/** One run's state and phases. */
final class Bench(spark: SparkSession, cpus: Int, seed: Long, seconds: Double,
    workload: String, trace: Boolean, tr: Tracer, state: java.nio.file.Path) {
  import Main._

  var attempted = 0L
  var failed = 0L
  private val nDocs = sizes.docs.toLong
  private val digests = new Digests
  private var maxChunk = 0L

  /** A timed operation: an exception counts as a failed operation and the
    * run goes on; a failed output check ends the run. */
  private def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case e: CheckFailed => throw e
      case NonFatal(e) =>
        failed += 1
        log(s"$what failed: $e")
        None
    }
  }

  /** Runs `op` traced or not. In a traced run the listener is attached
    * only while a traced operation runs. */
  private def withTrace[T](traced: Boolean)(op: => T): T = {
    if (traced) tr.on() else tr.off()
    op
  }

  // ---- set-up ------------------------------------------------------------

  private def setup(): Data = {
    val (d, q) = Gen(spark, sizes, seed, cpus)
    val docs = d.persist()
    val queries = q.persist()
    check(docs.count() == nDocs, "generator: doc count")
    check(queries.count() == sizes.queries, "generator: query count")
    val truth = Metrics.rankedToPreds(BruteForceKNN.topK(queries, docs, 10))
      .withColumnRenamed("preds", "gt").persist()
    val gt = truth.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    check(gt.size == sizes.queries && gt.values.forall(_.length == 10), "truth: 10 per query")
    // A small batch arrives from the client as its own local table of
    // queries. (A filter over the query table would instead make every
    // slice a plan with new generated code, compiled on its first use.)
    val slices = queries.collect().sortBy(_.getLong(0)).grouped(SmallBatch)
      .map(rs => spark.createDataFrame(java.util.Arrays.asList(rs: _*), queries.schema))
      .toIndexedSeq
    Data(docs, queries, truth, gt, slices)
  }

  // ---- index build -------------------------------------------------------

  /** One full build: RQ fit → assign → cluster index, then HKM fit →
    * assign, each materialized. Returns the index and the two times. */
  private def build(data: Data): (Index, Double, Double) = {
    val t0 = now()
    val cb = tr.span("index.rq_fit") {
      RQTrainer.fit(data.docs, "vec", RqLevels, RqK, maxIter = RqIter)
    }
    val asg = tr.span("index.assign") {
      val a = CodeAssigner.assign(data.docs, cb).persist(); a.count(); a
    }
    val cells = tr.span("index.cluster_build") {
      val c = ClusterIndexBuilder.build(asg).persist(); c.count(); c
    }
    asg.unpersist()
    val rqS = secs(t0)
    val t1 = now()
    val levels = tr.span("index.hkm_fit") {
      HierarchicalKMeans.fitLevels(data.docs, "vec", HkmK, HkmDepth)
    }
    val paths = tr.span("index.hkm_assign") {
      val p = HierarchicalKMeans.assignByLevels(data.docs, levels, HkmDepth).persist()
      p.count(); p
    }
    val hkmS = secs(t1)
    checkPaths(paths)
    paths.unpersist()
    (Index(cb, cells, levels), rqS, hkmS)
  }

  /** Σ csize = docs, each doc in exactly one cell, chunks add up to their
    * cell. Returns the largest chunk. */
  private def checkCells(cells: DataFrame): Long = {
    val per = cells.groupBy("codes").agg(
      min("csize").as("lo"), max("csize").as("hi"),
      sum(size(col("doc_ids"))).as("n"), max(size(col("doc_ids"))).as("chunk"))
    val r = per.agg(sum("hi"), sum(when(col("lo") =!= col("hi") || col("n") =!= col("hi"), 1)
      .otherwise(0)), max("chunk")).head()
    check(r.getLong(0) == nDocs, s"index: sum of csize ${r.getLong(0)} != $nDocs docs")
    check(r.getLong(1) == 0, s"index: ${r.getLong(1)} cells whose chunks miss their csize")
    val m = cells.select(explode(col("doc_ids")).as("d"), col("codes"))
      .agg(count(lit(1)), countDistinct("d"), min("d"), max("d"),
        sum(xxhash64(col("d"), col("codes")) % 1000000007L)).head()
    check(m.getLong(0) == nDocs && m.getLong(1) == nDocs,
      s"index: ${m.getLong(0)} memberships of ${m.getLong(1)} docs, want $nDocs each")
    check(m.getLong(2) == 0 && m.getLong(3) == nDocs - 1, "index: doc ids outside the corpus")
    digests("index.cells", m.getLong(4).toString)
    r.getInt(2).toLong
  }

  private def checkPaths(paths: DataFrame): Unit = {
    val m = paths.agg(count(lit(1)), countDistinct("doc_id"), min(size(col("path"))),
      sum(xxhash64(col("doc_id"), col("path")) % 1000000007L)).head()
    check(m.getLong(0) == nDocs && m.getLong(1) == nDocs, "hkm: not one path per doc")
    check(m.getInt(2) >= 1, "hkm: a doc has an empty path")
    digests("index.hkm_paths", m.getLong(3).toString)
  }

  // ---- serving -------------------------------------------------------------

  private val qids = (0L until sizes.queries).toSet

  /** One large batch: coarse→fine retrieve, collected, then Metrics.ranking.
    * Returns (seconds, recall@10, mrr@10). */
  private def serve(data: Data, idx: Index): (Double, Double, Double) = {
    val t0 = now()
    val out = tr.span("search.retrieve") {
      val o = CoarseFineRetriever.retrieve(data.queries, idx.cells, data.docs,
        idx.codebook, beams = Beams, k = K).persist()
      (o, o.collect())
    }
    val m = tr.span("eval.metrics") {
      Metrics.ranking(Metrics.rankedToPreds(out._1), data.truth, ks = Seq(10)).collect()
    }
    val s = secs(t0)
    out._1.unpersist()
    digests("serve.retrieve", checkRanked(out._2, K, qids, nDocs, "retrieve"))
    check(m.length == 1 && m(0).getLong(4) == sizes.queries, "metrics: one row over all queries")
    val (recall, mrr) = (m(0).getDouble(1), m(0).getDouble(2))
    check(recall >= RecallFloor, s"retrieve: recall@10 $recall below $RecallFloor")
    (s, recall, mrr)
  }

  /** The HKM trie beam over the same batch: `TrieBeams` paths per query. */
  private def trieBeam(data: Data, idx: Index): Double = {
    val t0 = now()
    val rows = tr.span("search.trie_beam") {
      HierarchicalKMeans.beamSearchByLevels(data.queries, idx.levels, HkmDepth, TrieBeams)
        .collect()
    }
    val s = secs(t0)
    val byQ = rows.groupBy(_.getLong(0))
    check(byQ.keySet == qids, "trie beam: not every query answered")
    byQ.foreach { case (q, rs) =>
      check(rs.length == TrieBeams, s"trie beam: query $q has ${rs.length} paths")
      check(rs.map(_.getLong(1)).sorted.toSeq == (1L to TrieBeams), s"trie beam: query $q ranks")
    }
    digests("serve.trie", digest(rows.sortBy(r => (r.getLong(0), r.getLong(1))).iterator
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getSeq[Int](2).mkString(":")}")))
    s
  }

  /** The retrieve chain rebuilt from its public pieces, each stage
    * materialized on its cached input and timed on its own. Its output must
    * equal `retrieve`'s. Traced runs only. */
  private def stagedChain(data: Data, idx: Index): Unit = {
    def mat(df: DataFrame): (DataFrame, Long) = { val p = df.persist(); (p, p.count()) }
    val (beam, beamRows) = tr.span("search.beam") {
      mat(CodebookBeamSearch.search(data.queries, idx.codebook, Beams))
    }
    val (cands, candRows) = tr.span("search.fetch") {
      mat(beam.join(idx.cells.select("codes", "doc_ids"), Seq("codes"))
        .select(col("query_id"), col("codes"), explode(col("doc_ids")).as("doc_id")))
    }
    val (scored, scoredRows) = tr.span("search.rerank") {
      mat(cands.join(data.docs, Seq("doc_id")).join(data.queries, Seq("query_id"))
        .select(col("query_id"), col("doc_id"),
          BruteForceKNN.score("ip")(col("qvec"), col("vec")).as("score"))
        .groupBy("query_id", "doc_id").agg(max(col("score")).as("score")))
    }
    val rows = tr.span("search.topk") { TopK.ranked(scored, K).collect() }
    Seq(beam, cands, scored).foreach(_.unpersist())
    digests("serve.retrieve", checkRanked(rows, K, qids, nDocs, "staged chain"))
    chain += Map("beam.rows" -> beamRows.toDouble,
      "fetch.candidates_per_query" -> candRows.toDouble / sizes.queries,
      "topk.input_rows" -> scoredRows.toDouble,
      "topk.kept_ratio" -> rows.length.toDouble / scoredRows)
  }
  private val chain = ArrayBuffer.empty[Map[String, Double]]

  /** One small budgeted batch; returns (ms, recall@10 per query of it). */
  private def small(data: Data, idx: Index, i: Int): (Double, Map[Long, Double]) = {
    val slot = i % data.slices.length
    val slice = data.slices(slot)
    val t0 = now()
    val (df, rows) = tr.span("search.small") {
      val df = CoarseFineRetriever.retrieveBudgeted(slice, idx.cells, data.docs,
        idx.codebook, beams = SmallBeams, k = SmallK, budget = Budget)
      (df, df.collect())
    }
    val ms = secs(t0) * 1000.0
    val ids = slot.toLong * SmallBatch
    val want = (ids until ids + SmallBatch).toSet
    digests(s"small.$slot", checkRanked(rows, SmallK, want, nDocs, s"small slice $slot"))
    if (tr.isOn) budget += budgetCounts(df)
    val recall = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      val g = data.gt(q).toSet
      q -> rs.count(r => g.contains(r.getLong(2))).toDouble / g.size
    }
    (ms, want.map(q => q -> recall.getOrElse(q, 0.0)).toMap)
  }
  private val budget = ArrayBuffer.empty[(Double, Double)]

  // ---- the run -------------------------------------------------------------

  /** The samples of one serving phase, untraced and traced, each marked
    * when the hypervisor stole more than `StealLimit` of the host's CPU
    * time while it ran. */
  final class Samples[T] {
    val plain = ArrayBuffer.empty[(T, Boolean)]
    val traced = ArrayBuffer.empty[(T, Boolean)]
    private def both = (plain ++ traced).toSeq
    def all: Seq[T] = both.map(_._1)
    def busy: Int = both.count(_._2)
    def clean: Int = both.length - busy
    /** What timings are taken from: the samples the host did not slow,
      * when there are at least `MinClean` of them; else all. */
    def timed: Seq[T] =
      if (clean >= MinClean) both.filterNot(_._2).map(_._1) else all
  }

  /** Calls `op` `warm` times (dropped: they warm the path's code), then
    * for `window` seconds and at least `minOps` times. While fewer than
    * `minOps` samples are clean (see `Samples`), it goes on for up to
    * `seconds` more. In a traced run, `alternate` interleaves untraced and
    * traced calls (for `trace.overhead_pct`); otherwise every call of a
    * traced run is traced. */
  private def loop[T](name: String, window: Double, minOps: Int, warm: Int,
      alternate: Boolean)(op: => Option[T]): Samples[T] = {
    (1 to warm).foreach(_ => op)
    val j0 = jitMs()
    val out = new Samples[T]
    val least = if (trace && alternate) math.max(minOps, 2) else minOps
    val t0 = now()
    var i = 0
    while (secs(t0) < window || i < least ||
        (out.clean < least && secs(t0) < window + seconds)) {
      val on = trace && (!alternate || i % 2 == 1)
      val j0 = cpuJiffies()
      withTrace(on)(op).foreach { x =>
        val j1 = cpuJiffies()
        val busy = (j1._1 - j0._1) > StealLimit * math.max(j1._2 - j0._2, 1L)
        (if (on) out.traced else out.plain) += x -> busy
      }
      i += 1
    }
    tr.off()
    windowJitMs += name -> (jitMs() - j0)
    out
  }
  private val windowJitMs = ArrayBuffer.empty[(String, Long)]

  /** Wall seconds of each phase of the run, for the context record. */
  private val phases = ArrayBuffer.empty[(String, Double)]
  private val phaseGc = ArrayBuffer.empty[(String, Double)]
  private def phase[T](name: String)(body: => T): T = {
    val (t0, g0) = (now(), gcMs())
    try body finally { phases += name -> secs(t0); phaseGc += name -> (gcMs() - g0) / 1000.0 }
  }

  def run(): (Seq[(String, (Double, String))], Seq[(String, String)]) = {
    val gc0 = gcMs()
    // set-up, several times: each repetition regenerates every input
    var data: Data = null
    val setupS = phase("setup")((1 to (if (trace) 1 else Setups)).map { _ =>
      if (data != null) data.unpersist()
      val t0 = now()
      data = setup()
      secs(t0)
    })
    log(f"set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    // index build: once, as a serving process does when it starts
    val (index, buildRq, buildHkm) = phase("build")(withTrace(trace) {
      attempt("build")(build(data)).getOrElse(throw new CheckFailed("no index was built"))
    })
    tr.off()
    maxChunk = phase("check_index")(checkCells(index.cells))
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

    // Serving: small batches, then the trie beam, then large batches (see
    // `WarmLarge`); the workload's own kind for `seconds`, the others for
    // `OtherShare` of that.
    val own = workload == "serve_batch"
    var next = 0
    val smalls = phase("serve_small")(
      loop("small", if (own) seconds * OtherShare else seconds, data.slices.length,
          WarmSmall, alternate = !own) {
        attempt("small batch") { val r = small(data, index, next); next += 1; r }
      })
    val tries = phase("trie_beam")(
      loop("trie", seconds * OtherShare, MinServes, WarmLarge, alternate = false) {
        attempt("trie beam")(trieBeam(data, index))
      })
    val serves = phase("serve_batch")(
      loop("serve", if (own) seconds else seconds * OtherShare, MinServes, WarmLarge,
          alternate = own) {
        attempt("serve")(serve(data, index))
      })
    if (trace) phase("staged_chain")(loop("staged_chain", 0, FixedChains, 1, alternate = false) {
      attempt("staged chain")(stagedChain(data, index))
    })
    val gcS = (gcMs() - gc0) / 1000.0

    val serveS = serves.all
    val smallS = smalls.all
    if (serveS.isEmpty || tries.all.isEmpty || smallS.isEmpty)
      throw new CheckFailed("a phase completed no operation")
    val recall = serveS.head._2
    val mrr = serveS.head._3
    // every slice answered once per cycle, so the mean over slices is
    // the same whatever the loop count
    val smallRecall = smallS.flatMap(_._2).toMap.values.sum / sizes.queries
    check(smallRecall >= SmallRecallFloor, s"small batches: recall@10 $smallRecall")
    pinFloor(recall, smallRecall)

    val ctx = Seq(
      "samples" -> (s"""{"setup":${setupS.length},"build":1,""" +
        s""""serve":${serveS.length},"trie":${tries.all.length},"small":${smallS.length}}"""),
      "busy_samples" ->
        s"""{"serve":${serves.busy},"trie":${tries.busy},"small":${smalls.busy}}""",
      "window_jit_ms" -> windowJitMs.map { case (n, c) => s""""$n":$c""" }.mkString("{", ",", "}"),
      "setup_s" -> setupS.mkString("[", ",", "]"),
      "serve_s" -> serveS.map(_._1).mkString("[", ",", "]"),
      "trie_s" -> tries.all.mkString("[", ",", "]"),
      "small_ms" -> smallS.map(_._1).mkString("[", ",", "]"),
      "phase_s" -> phases.map { case (n, t) => s""""$n":$t""" }.mkString("{", ",", "}"),
      "phase_gc_s" -> phaseGc.map { case (n, t) => s""""$n":$t""" }.mkString("{", ",", "}"))

    val metrics =
      if (!trace) {
        val q = sizes.queries.toDouble
        Seq(
          "setup_s" -> (median(setupS), "s"),
          "build_s" -> (buildRq, "s"),
          "hkm_build_s" -> (buildHkm, "s"),
          "serve_qps" -> (q / median(serves.timed.map(_._1)), "queries/s"),
          "trie_qps" -> (q / median(tries.timed), "queries/s"),
          "recall_at_10" -> (recall, "fraction"),
          "mrr_at_10" -> (mrr, "fraction"),
          "small_batch_ms_p50" -> (median(smalls.timed.map(_._1)), "ms"),
          "small_batch_ms_p90" -> (quantile(smalls.timed.map(_._1), 0.9), "ms"),
          "small_recall_at_10" -> (smallRecall, "fraction"),
          "cache_mb" -> (cacheMb, "MB"),
          "ok_frac" -> ((attempted - failed).toDouble / attempted, "fraction"))
      } else layerMetrics(serves, smalls, gcS)

    if (trace) {
      val f = state.resolve(s"spans-${tr.run}.json")
      Files.write(f, tr.toJson.getBytes(UTF_8))
      log(s"spans written to $f")
      tr.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        log(f"self time $n%-24s ${median(ss.map(tr.selfSeconds).toSeq)}%.3f s (n=${ss.size})")
      }
    }
    (metrics, ctx)
  }

  /** Recall must not fall below what this seed reached on its first run in
    * this checkout. */
  private def pinFloor(recall: Double, smallRecall: Double): Unit = {
    val f = state.resolve(s"recall-floor-${sizes.docs}x${sizes.queries}-seed$seed.txt")
    if (Files.exists(f)) {
      val Array(r, s) = new String(Files.readAllBytes(f), UTF_8).trim.split(" ").map(_.toDouble)
      check(recall >= r, s"recall@10 $recall fell below this seed's pinned $r")
      check(smallRecall >= s, s"small recall@10 $smallRecall fell below this seed's pinned $s")
    } else Files.write(f, s"$recall $smallRecall\n".getBytes(UTF_8))
  }

  private def layerMetrics(
      serves: Samples[(Double, Double, Double)],
      smalls: Samples[(Double, Map[Long, Double])],
      gcS: Double): Seq[(String, (Double, String))] = {
    def med(name: String)(f: Span => Double): Double = {
      val ss = tr.named(name)
      if (ss.isEmpty) throw new CheckFailed(s"trace: no $name span")
      median(ss.map(f))
    }
    def c(s: Span) = tr.countersOf(s)
    def sec(name: String) = med(name)(_.seconds)
    // trace.overhead_pct: the workload's own operation, traced vs not
    val (plain, traced) = workload match {
      case "serve_batch" =>
        (serves.plain.map(_._1._1).toSeq, serves.traced.map(_._1._1).toSeq)
      case _ => (smalls.plain.map(_._1._1).toSeq, smalls.traced.map(_._1._1).toSeq)
    }
    if (plain.isEmpty || traced.isEmpty)
      throw new CheckFailed("trace: the measured window held no traced/untraced pair")
    val overhead = (median(traced) / median(plain) - 1.0) * 100.0
    def ch(key: String) = median(chain.map(_(key)).toSeq)
    val all = tr.spans.toSeq
    Seq(
      "index.rq_fit.s" -> (sec("index.rq_fit"), "s"),
      "index.rq_fit.jobs" -> (med("index.rq_fit")(c(_).jobs.toDouble), "count"),
      "index.rq_fit.task_cpu_s" -> (med("index.rq_fit")(c(_).cpuNs / 1e9), "s"),
      "index.assign.s" -> (sec("index.assign"), "s"),
      "index.cluster_build.s" -> (sec("index.cluster_build"), "s"),
      "index.cluster_build.shuffle_write_bytes" ->
        (med("index.cluster_build")(c(_).shuffleWrite.toDouble), "bytes"),
      "index.cluster_build.max_chunk_members" -> (maxChunk.toDouble, "count"),
      "index.hkm_fit.s" -> (sec("index.hkm_fit"), "s"),
      "index.hkm_fit.jobs" -> (med("index.hkm_fit")(c(_).jobs.toDouble), "count"),
      "index.hkm_fit.shuffle_bytes" -> (med("index.hkm_fit")(c(_).shuffleWrite.toDouble), "bytes"),
      "index.hkm_assign.s" -> (sec("index.hkm_assign"), "s"),
      "search.retrieve.s" -> (sec("search.retrieve"), "s"),
      "search.retrieve.task_cpu_s" -> (med("search.retrieve")(c(_).cpuNs / 1e9), "s"),
      "search.retrieve.non_task_ms" -> (med("search.retrieve")(tr.nonTaskMs), "ms"),
      "search.beam.s" -> (sec("search.beam"), "s"),
      "search.beam.rows" -> (ch("beam.rows"), "count"),
      "search.fetch.s" -> (sec("search.fetch"), "s"),
      "search.fetch.candidates_per_query" -> (ch("fetch.candidates_per_query"), "count"),
      "search.rerank.s" -> (sec("search.rerank"), "s"),
      "search.rerank.shuffle_bytes" -> (med("search.rerank")(c(_).shuffleWrite.toDouble), "bytes"),
      "search.rerank.spill_bytes" -> (med("search.rerank")(c(_).spill.toDouble), "bytes"),
      "search.topk.s" -> (sec("search.topk"), "s"),
      "search.topk.input_rows" -> (ch("topk.input_rows"), "count"),
      "search.topk.kept_ratio" -> (ch("topk.kept_ratio"), "fraction"),
      "search.trie_beam.s" -> (sec("search.trie_beam"), "s"),
      "search.trie_beam.jobs" -> (med("search.trie_beam")(c(_).jobs.toDouble), "count"),
      "search.trie_beam.shuffle_bytes" ->
        (med("search.trie_beam")(c(_).shuffleWrite.toDouble), "bytes"),
      "eval.metrics.s" -> (sec("eval.metrics"), "s"),
      "search.small.jobs_per_batch" -> (med("search.small")(c(_).jobs.toDouble), "count"),
      "search.small.tasks_per_batch" -> (med("search.small")(c(_).tasks.toDouble), "count"),
      "search.small.task_cpu_ms_per_batch" -> (med("search.small")(c(_).cpuNs / 1e6), "ms"),
      "search.small.non_task_ms_per_batch" -> (med("search.small")(tr.nonTaskMs), "ms"),
      "search.budget.kept_clusters_per_query" -> (median(budget.map(_._1).toSeq), "count"),
      "search.budget.candidates_per_query" -> (median(budget.map(_._2).toSeq), "count"),
      "spark.gc_s" -> (gcS, "s"),
      "spark.failed_tasks" -> (all.map(c(_).failedTasks).sum.toDouble, "count"),
      "trace.overhead_pct" -> (overhead, "%"))
  }
}
