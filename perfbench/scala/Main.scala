package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.CacheScope
import graft.ext.Similarity
import graft.io.Sources
import graft.streaming.StreamGraphMaintain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The benchmark's JVM side: runs one workload's plan (written by
  * `perfbench/run.py` from the seed) against the generated tables in
  * one session at `local[cpus]`, from one client thread in a closed
  * loop, and writes every sample, check and trace record to
  * `<out>/result.json`.
  *
  * Usage: perfbench.Main --workload <query_mix|graph_stream> --data <dir>
  *   --plan <file> --out <dir> --units <n> --trace <0|1> --cpus <n>
  */
object Main {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val SetupCycles = 3
  /** An untraced timed unit whose granted CPU share ([[grantedShare]])
    * falls below this was slowed by the hypervisor (steal by other
    * guests on a shared host) and is measured again, up to
    * [[MaxAttempts]] times in all; the attempt granted the most CPU is
    * kept. Every attempt stays in the run record.
    */
  val StealShare = 0.9
  val MaxAttempts = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Context(args)
    val res = args("workload") match {
      case "query_mix" => new QueryMix(ctx).run()
      case "graph_stream" => new GraphStream(ctx).run()
      case other => sys.error(s"unknown workload: $other")
    }
    ctx.finish(res)
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Regular data files under `root` (no checksums, markers or
    * `_SUCCESS`): relative path -> (bytes, mtime).
    */
  def dataFiles(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !hidden(p, f))
        .map(f => p.relativize(f).toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally w.close()
    }
  }

  private def hidden(root: Path, f: Path): Boolean =
    root.relativize(f).iterator().asScala.exists { part =>
      val n = part.toString
      n.startsWith(".") || n.startsWith("_")
    }

  def bytesOf(root: String): Long = dataFiles(root).values.map(_._1).sum

  /** This machine's CPU time so far as (busy, stolen by the hypervisor
    * while a vCPU wanted to run), in clock ticks summed over CPUs, from
    * `/proc/stat`; zeros where the file is missing.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      // user nice system idle iowait irq softirq steal ...
      (v(0) + v(1) + v(2) + v(5) + v(6), if (v.length > 7) v(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the CPU time wanted between two [[cpuTicks]] readings
    * that the hypervisor granted: busy / (busy + stolen); 1 without data.
    */
  def grantedShare(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val stolen = b._2 - a._2
    if (busy + stolen > 0) busy.toDouble / (busy + stolen) else 1.0
  }

}

/** Session, host stamp, failure accounting and the result record
  * shared by both workloads.
  */
final class Context(val args: Map[String, String]) {
  val data: String = args("data")
  val out: String = args("out")
  val unitCount: Int = args("units").toInt
  val traced: Boolean = args("trace") == "1"
  val cpus: Int = args("cpus").toInt
  val plan: Seq[Array[String]] = scala.io.Source.fromFile(args("plan")).getLines()
    .map(_.trim).filter(_.nonEmpty).map(_.split(" ")).toSeq

  private def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private val load1Entry = load1()
  private val ticksEntry = Main.cpuTicks()

  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  /** Id of the timed-unit attempt now running (0 before the first). */
  var attempt = 0

  val attempted = new java.util.concurrent.atomic.AtomicInteger()
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def startSession(): SparkSession = {
    if (spark == null) spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs `cycle` [[Main.SetupCycles]] times; returns each cycle's
    * wall seconds. The first cycle also starts the
    * session (Spark's own cost, which the library does not touch); the
    * last cycle's state is the one the workload then uses.
    */
  def setup(cycle: => Unit): Seq[Double] =
    (1 to Main.SetupCycles).map(_ => Main.secondsOf(cycle)._2)

  def warmTables(names: Seq[String]): Unit =
    names.foreach(t => Sources.table(spark, data, t).count())

  /** One op: its result and wall-clock latency when it returns, None
    * (and a named failure) when it throws. A failed op
    * never adds a latency sample. `after` runs inside the op's span but
    * outside its latency.
    */
  def op[T](opId: String, label: String, after: => Unit = ())(body: => T): Option[(T, Double)] = {
    attempted.incrementAndGet()
    def timed = {
      val r = Main.secondsOf(body)
      after
      r
    }
    try Some(tracer.fold(timed)(_.op(opId, label)(timed)))
    catch { case e: Throwable =>
      failures += Map("op" -> opId, "label" -> label,
        "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      None
    }
  }

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Heap in use after a full collection, in MiB: the least of three
    * readings, so a background allocation between the collection and
    * the reading does not count.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  def finish(res: Map[String, Any]): Unit = {
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> cpus,
      "load1_entry" -> load1Entry,
      "load1_exit" -> load1(),
      "granted_share" -> Main.grantedShare(ticksEntry, Main.cpuTicks()),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val all = res ++ Map(
      "host" -> host,
      "attempted" -> attempted.get(),
      "failures" -> failures.toSeq,
      "checks" -> checks.toSeq)
    Files.write(Paths.get(out, "result.json"), Json(all).getBytes("UTF-8"))
    spark.stop()
  }

  /** Runs exactly `n` timed units, so every run of a workload keeps
    * the same number of samples; an untraced unit the hypervisor starved
    * is measured again (see [[Main.StealShare]]). `prepare()` runs
    * untimed before every attempt but the run's first. When tracing,
    * unit `tracedUnit` alone is traced; the others run untraced, for
    * the overhead comparison. Samples carry the [[attempt]] they were
    * taken in; the unit records say which attempts were kept.
    */
  def timedUnits(n: Int, tracedUnit: Int = 1, prepare: () => Unit = () => ())(
      unit: Int => Unit): Seq[Map[String, Any]] =
    (0 until n).flatMap { i =>
      val isTraced = traced && i == tracedUnit
      val tries = mutable.ArrayBuffer.empty[(Int, Double, Double)]
      def starved = tries.forall(_._3 < Main.StealShare)
      while (tries.isEmpty || (!isTraced && tries.size < Main.MaxAttempts && starved)) {
        if (attempt > 0) prepare()
        attempt += 1
        val ticks = Main.cpuTicks()
        val (_, s) = if (isTraced) tracing(Main.secondsOf(unit(i))) else Main.secondsOf(unit(i))
        tries += ((attempt, s, Main.grantedShare(ticks, Main.cpuTicks())))
      }
      val kept = tries.maxBy(_._3)._1
      tries.map { case (a, s, g) =>
        Map("unit" -> i, "attempt" -> a, "wall_s" -> s, "granted" -> g, "traced" -> isTraced,
          "kept" -> (a == kept))
      }
    }

  private lazy val traceLog = new Tracer(spark)

  /** Runs `body` with the listeners registered and spans recorded. */
  def tracing[T](body: => T): T = {
    traceLog.start()
    tracer = Some(traceLog)
    try body
    finally {
      tracer = None
      traceLog.stop()
    }
  }

  /** The trace's records (empty when untraced). */
  def traceReport(): Map[String, Any] =
    if (!traced) Map.empty
    else {
      val r = traceLog.report()
      Files.write(Paths.get(out, "spans.json"), Json(r.spans).getBytes("UTF-8"))
      Map("ops" -> r.ops.map(_.toMap), "self_s" -> r.selfSeconds)
    }
}

/** `query_mix`: every declared key of the plan, once per pass, in the
  * plan's seed-shuffled order. Read keys go to the noop sink; load keys
  * (bronze copies, MERGE upserts, full replace) write their table as
  * parquet, as the reference pipeline's bronze layer does.
  */
final class QueryMix(ctx: Context) {
  import ctx._

  private val ops: Seq[(String, String)] = plan.map(a => (a(0), a(1)))
  private val fns = SparkEntry.queries

  private def release(): Unit = {
    CacheScope.releaseAll(blocking = true)
    spark.catalog.clearCache()
  }

  def run(): Map[String, Any] = {
    val setupS = setup { startSession(); warmTables(Main.Tables) }
    // untimed warm pass, which is also the correctness pass: every
    // key's result lands under check/ for the oracle compare
    val (_, warmS) = Main.secondsOf(ops.foreach { case (_, key) =>
      op(s"check-$key", key) {
        fns(key)(spark, data).write.mode("overwrite").parquet(s"$out/check/$key")
      }
      release()
    })
    val rows = ops.map { case (_, key) =>
      key -> scala.util.Try(spark.read.parquet(s"$out/check/$key").count()).getOrElse(0L)
    }.toMap
    val reads, writes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var maxTracked, maxPersistent = 0
    // untraced: `unitCount` passes; traced: untraced, traced, untraced,
    // and the overhead compares the traced pass with the later untraced one
    val units = timedUnits(if (traced) 3 else unitCount) { pass =>
      ops.foreach { case (kind, key) =>
        val r = op(s"p$pass-$key", key, after = {
          maxTracked = math.max(maxTracked, CacheScope.trackedCount)
          maxPersistent = math.max(maxPersistent, persistentRdds)
          span("release")(release())
        }) {
          val df = span("build")(fns(key)(spark, data))
          span("write") {
            if (kind == "write") df.write.mode("overwrite").parquet(s"$out/bronze/$key")
            else df.write.mode("overwrite").format("noop").save()
          }
        }
        r.foreach { case (_, s) =>
          val rec = Map("key" -> key, "pass" -> pass, "attempt" -> attempt, "seconds" -> s,
            "rows" -> rows(key), "traced" -> tracer.isDefined)
          if (kind == "write") writes += rec else reads += rec
        }
      }
    }
    val trace = traceReport()
    val heap = retainedHeapMb()
    // bytes stored per byte of user data: the load keys' tables against
    // the single-file source tables they were loaded from
    val loads = ops.filter(_._1 == "write").map(_._2)
    val stored = loads.map(k => Main.bytesOf(s"$out/bronze/$k")).sum
    val source = loads.map(k => new File(s"$data/${QueryMix.sourceOf(k)}.parquet").length()).sum
    Map(
      "workload" -> "query_mix",
      "setup_cycles_s" -> setupS,
      "warm_s" -> warmS,
      "units" -> units,
      "reads" -> reads.toSeq,
      "writes" -> writes.toSeq,
      "oracle_sql" -> ops.map { case (_, k) => k -> SparkEntry.oracleSql(k) }.toMap,
      "bronze_keys" -> loads,
      "rows" -> rows,
      "retained_heap_mb" -> heap,
      "space" -> Map("stored_bytes" -> stored, "fresh_bytes" -> source),
      "layout_files" -> Seq(Main.dataFiles(s"$out/bronze").size),
      "layers" -> Map(
        "core.tracked_handles" -> maxTracked,
        "core.persistent_rdds" -> maxPersistent),
      "trace" -> trace)
  }
}

object QueryMix {
  /** The source table a load key copies or merges into. */
  def sourceOf(key: String): String =
    if (key.startsWith("bronze_")) key.stripPrefix("bronze_")
    else key.split("_").last
}

/** `graph_stream`: arriving embeddings fold into a persisted vector +
  * kNN-graph layout pair one micro-batch at a time
  * (`StreamGraphMaintain.maintainBatch`), some batches are delivered
  * twice, and each batch is followed by one `graphSearchClustered`
  * over the current layout. Nothing is released inside the stream.
  */
final class GraphStream(ctx: Context) {
  import ctx._

  private def ids(s: String): Seq[Long] = s.split(",").toSeq.map(_.toLong)
  // plan lines: `batch <i> <id,...> <re-delivered id,...>` and `probe <i> <id,...>`
  private val batches = plan.filter(_(0) == "batch").map(a => (a(1).toInt, ids(a(2)), ids(a(3))))
  private val probes = plan.filter(_(0) == "probe").map(a => ids(a(2)))
  private val arriving = batches.flatMap(_._2)
  private val vecPath = s"$out/layout/vectors"
  private val graphPath = s"$out/layout/graph"
  private val K = 4

  private var embs: DataFrame = _
  private var cents: Seq[(Long, Seq[Float])] = _

  private def vectors(idList: Seq[Long]): DataFrame =
    embs.filter(col("vec_id").isin(idList: _*))

  private def buildLayouts(rows: DataFrame, vPath: String, gPath: String): Unit = {
    val assigned = Similarity.ivfAssignPortableTo(rows, cents)
    Similarity.writeClustered(assigned, vPath)
    Similarity.writeGraphClustered(Similarity.knnGraph(rows, k = K), assigned, gPath)
  }

  private def layoutFiles(): Int = Main.dataFiles(vecPath).size + Main.dataFiles(graphPath).size

  private def edgeRows(df: DataFrame): Seq[Seq[Any]] =
    df.select("probe_id", "vec_id", "label", "cosine")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
      .collect().map(_.toSeq).toSeq

  private def buildBase(): Unit =
    buildLayouts(embs.filter(!col("vec_id").isin(arriving: _*)), vecPath, graphPath)

  def run(): Map[String, Any] = {
    val setupS = setup {
      startSession()
      embs = Sources.table(spark, data, "embeddings").select("vec_id", "embedding", "label")
      warmTables(Seq("embeddings"))
      cents = Similarity.seedCentroids(embs, 16)
      val seedCut = cents.map(_._1).max
      require(arriving.forall(_ > seedCut),
        s"arriving ids must lie above the seed-centroid cut $seedCut")
      buildBase()
    }
    val index = Similarity.IvfIndex(cents)
    val folded = mutable.ArrayBuffer.empty[Long]
    val writes, redeliveries, reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val filesPerBatch = mutable.ArrayBuffer.empty[Int]
    var noops, redelivered = 0

    def search(tag: String, probeIds: Seq[Long]): Unit = {
      val r = op(s"search-$tag", "graphSearchClustered") {
        span("search") {
          val corpus = spark.read.parquet(vecPath).select("vec_id", "embedding", "label")
          val probeDf = vectors(probeIds).select(col("vec_id").as("probe_id"), col("embedding"))
          Similarity.graphSearchClustered(corpus, spark.read.parquet(graphPath), probeDf,
            cents, cents.map(_._1)).write.mode("overwrite").format("noop").save()
        }
      }
      r.foreach { case (_, s) =>
        reads += Map("tag" -> tag, "attempt" -> attempt, "seconds" -> s, "traced" -> tracer.isDefined)
      }
    }

    def batch(i: Int): Unit = {
      val (b, batchIds, again) = batches(i)
      val r = op(s"fold-$b", "maintainBatch") {
        span("fold")(StreamGraphMaintain.maintainBatch(spark, vectors(batchIds), index, vecPath, graphPath, k = K))
      }
      r.foreach { case (cells, s) =>
        folded ++= batchIds
        writes += Map("batch" -> b, "attempt" -> attempt, "seconds" -> s, "rows" -> batchIds.size,
          "cells_rewritten" -> cells.size, "traced" -> tracer.isDefined)
      }
      if (again.nonEmpty) {
        val before = (Main.dataFiles(vecPath), Main.dataFiles(graphPath))
        val r2 = op(s"redeliver-$b", "maintainBatch") {
          span("fold")(StreamGraphMaintain.maintainBatch(spark, vectors(again), index, vecPath, graphPath, k = K))
        }
        redelivered += 1
        r2.foreach { case (cells, s) =>
          if (cells.isEmpty) noops += 1
          redeliveries += Map("batch" -> b, "attempt" -> attempt, "seconds" -> s, "rows" -> again.size,
            "traced" -> tracer.isDefined)
        }
        val same = before == (Main.dataFiles(vecPath), Main.dataFiles(graphPath))
        check(s"redelivery-$b-no-op", same && r2.exists(_._1.isEmpty),
          if (same) "rewrote cells" else "a re-delivered batch changed the layouts")
      }
      search(s"$b", probes(i % probes.size))
      filesPerBatch += layoutFiles()
    }

    // state grows with every fold, so the number of timed folds is fixed,
    // and an attempt measured again starts over from the base layouts
    // (the release and rebuild are untimed). A traced run folds batch 0
    // three times, untraced, traced and untraced, each time into fresh
    // base layouts: the overhead compares the same fold and search over
    // the same starting state, both after a first fold.
    def restart(): Unit = {
      CacheScope.releaseAll(blocking = true)
      buildBase()
      folded.clear()
    }
    require(unitCount == 1 && batches.nonEmpty, "graph_stream times batch 0 of its plan")
    val units =
      if (!traced) timedUnits(1, tracedUnit = -1, prepare = restart)(batch)
      else timedUnits(3, prepare = restart)(_ => batch(0))
    val tracked = CacheScope.trackedCount
    val persistent = persistentRdds
    val heap = retainedHeapMb()
    def releaseAll() = op("release-end", "releaseAll") {
      span("release")(CacheScope.releaseAll(blocking = true))
    }
    if (traced) tracing(releaseAll()) else releaseAll()
    val trace = traceReport()

    // correctness: the maintained edges equal a fresh knnGraph build
    // over the same rows; the pair's bytes against that build's give
    // the space use
    val all = embs.filter(!col("vec_id").isin(arriving: _*) || col("vec_id").isin(folded.toSeq: _*))
    val rebuilt = s"$out/rebuild"
    buildLayouts(all, s"$rebuilt/vectors", s"$rebuilt/graph")
    val same = edgeRows(spark.read.parquet(graphPath)) == edgeRows(spark.read.parquet(s"$rebuilt/graph"))
    check("graph-equals-rebuild", same, if (same) "" else "maintained edges differ from knnGraph over base plus arrivals")
    val nVec = spark.read.parquet(vecPath).count()
    val nAll = all.count()
    check("vectors-complete", nVec == nAll, s"$nVec vectors stored, $nAll expected")
    Map(
      "workload" -> "graph_stream",
      "setup_cycles_s" -> setupS,
      "units" -> units,
      "reads" -> reads.toSeq,
      "writes" -> writes.toSeq,
      "redeliveries" -> redeliveries.toSeq,
      "redelivered" -> redelivered,
      "noop_redeliveries" -> noops,
      "layout_files" -> filesPerBatch.toSeq,
      "retained_heap_mb" -> heap,
      "space" -> Map(
        "stored_bytes" -> (Main.bytesOf(vecPath) + Main.bytesOf(graphPath)),
        "fresh_bytes" -> Main.bytesOf(rebuilt)),
      "layers" -> Map(
        "core.tracked_handles" -> tracked,
        "core.persistent_rdds" -> persistent),
      "trace" -> trace)
  }
}
