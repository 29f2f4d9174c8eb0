package graft.bench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One workload of the benchmark: a seeded set-up, a closed loop of ops
  * with one client, and an untimed check of the program's outputs. */
trait Workload {
  /** Start from empty state, generate the seeded inputs and build any
    * base. Runs `setupReps` times; the last one stands. */
  def setup(): Unit
  def setupReps: Int
  /** Untimed-loop warm-up after the set-up: first-use costs (code
    * generation, JIT) land here instead of on the loop's first ops. */
  def warmup(): Unit
  /** Issue the run's fixed, seeded sequence of ops one after another.
    * How much work it is depends on `Bench.seconds`, never on how fast
    * the ops run. */
  def loop(): Unit
  /** Failures found by comparing outputs with an independent reference. */
  def check(): Seq[String]
  /** Input rows committed by the loop. */
  def rowsWritten: Long
  /** Bytes of the inputs those rows came from. */
  def inputBytes: Long
  /** Directories holding the workload's tables or indexes. */
  def storedDirs: Seq[Path]
  /** Live rows in those directories at the end of the run. */
  def liveRows: Long
  /** Sizes worth recording next to the metrics. */
  def sizes: Map[String, Double]
}

/** Shared state of one run: session, recorder, paths and helpers. */
final class Bench(val spark: SparkSession, val rec: Recorder,
    val data: String, val work: Path, val seed: Long, val seconds: Double,
    val cores: Int) {

  val fmt: String = classOf[graft.sources.ManifestFileSink].getName
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
  private var heapPeak = 0L
  /** Per-op facts a traced run writes next to the spans. */
  val opFacts = mutable.Map.empty[Int, mutable.Map[String, Double]]

  /** Old-generation heap in use right after a full collection. Spark
    * drops the blocks of collected DataFrames asynchronously, after a
    * collection has found them; the second collection, after a pause,
    * frees what that released. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val used = heapPools.filter(_.getName.contains("Old"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    heapPeak = math.max(heapPeak, used)
  }
  def heapPeakMb: Double = heapPeak / (1024.0 * 1024.0)

  /** Runs `body` and logs its wall time to stderr. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"phase $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Runs independent set-up or check steps side by side. Only set-up,
    * warm-up and checks use it; the timed loop stays one client. */
  def par[T](steps: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(steps.map(f => Future(f()))), Duration.Inf)
    finally pool.shutdown()
  }

  def fact(op: Int, k: String, v: Double): Unit =
    if (rec.traced) opFacts.getOrElseUpdate(op, mutable.Map.empty)(k) = v

  def manifest(path: String): DataFrame =
    spark.read.format(fmt).option("path", path).load()

  /** A read op: plan it (timed as the `plans` layer), then consume the
    * full result. Returns the rows; scan metrics go to the recorder. */
  def read(name: String)(build: => DataFrame): Option[Array[Row]] = {
    val id = rec.ops.size
    rec.op(name, write = false) {
      val df = rec.span("plans") {
        val d = build
        d.queryExecution.executedPlan
        d
      }
      val rows = rec.span("exec.collect")(df.collect())
      if (rec.traced) scanMetrics(id, df.queryExecution.executedPlan)
      rows
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def scanMetrics(op: Int, plan: SparkPlan): Unit = {
    val scans = PlanWalk.collectWithSubqueries(plan) { case b: BatchScanExec => b }
    def sum(m: String) = scans.flatMap(_.metrics.get(m)).map(_.value.toDouble).sum
    val read = sum("filesRead")
    rec.add("sources.scan.files_read", read)
    rec.add("sources.scan.files_pruned", sum("filesPruned"))
    rec.add("sources.scan.dv_rows_skipped", sum("dvRowsSkipped"))
    rec.add("sources.scan.splits_planned", sum("splitsPlanned"))
    fact(op, "files_read", read)
  }

  /** Every regular file under `dir`, with its size. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }

  def bytesUnder(dirs: Seq[Path]): Long = dirs.map(files(_).values.sum).sum

  /** A write op. A traced run also counts the bytes of the files the op
    * created under `dirs`; that listing happens outside the op's time. */
  def write[T](name: String, dirs: Seq[Path])(body: => T): Option[T] = {
    val before = if (rec.traced) dirs.map(files).reduce(_ ++ _) else Map.empty[String, Long]
    val id = rec.ops.size
    val r = rec.op(name, write = true)(body)
    if (rec.traced) {
      val after = dirs.map(files).reduce(_ ++ _)
      val created = after.filter { case (p, _) => !before.contains(p) }.values.sum
      rec.add("sources.bytes_written", created.toDouble)
      fact(id, "bytes_written", created.toDouble)
    }
    r
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally st.close()
    }

  /** Order-independent digest of a relation: row count and the sum of a
    * 64-bit hash over every column. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

object Main {
  /** A loop that takes this many times `--seconds` (and at least
    * `LoopLimitS`) fails the run instead of finishing late. */
  val LoopLimitFactor = 4.0
  val LoopLimitS = 30.0

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") == "1"
    val data = need("--data")
    val work = Paths.get(need("--work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder(spark.sparkContext, traced)
    val b = new Bench(spark, rec, data, work, seed, seconds, cores)
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(b)
      case "tpch" => new TpchWorkload(b)
      case "index" => new IndexWorkload(b)
      case other => sys.error(s"unknown workload $other")
    }
    val appends = new AppendListener
    def timed(name: String)(body: => Unit): Double = {
      val s0 = System.nanoTime()
      b.phase(name)(body)
      (System.nanoTime() - s0) / 1e9
    }
    val setups = (1 to w.setupReps).map(_ => timed("setup")(w.setup()))
    val warm = timed("warmup")(w.warmup())
    b.sampleLiveHeap()
    if (traced) spark.listenerManager.register(appends)

    val loop0 = System.nanoTime()
    rec.limitNs = loop0 + (math.max(LoopLimitS, LoopLimitFactor * seconds) * 1e9).toLong
    b.phase("loop")(w.loop())
    val loopS = (System.nanoTime() - loop0) / 1e9
    if (traced) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(appends)
    }
    b.sampleLiveHeap()

    val failures = b.phase("check")(w.check())
    val r = Report(b, w, appends, sessionStart, setups, warm, loopS, failures)
    Files.createDirectories(work)
    Files.write(work.resolve("result.json"), r.json.getBytes(StandardCharsets.UTF_8))
    if (traced) r.writeTrace(work)
    spark.stop()
  }
}

/** Times every committed append into a manifest-format table, whoever
  * issued it: the harness itself or an index transaction inside the
  * program. Registered for the traced loop only. */
final class AppendListener extends org.apache.spark.sql.util.QueryExecutionListener {
  val seconds = mutable.ArrayBuffer.empty[Double]
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.AppendData
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val manifest = qe.logical.collectFirst {
      case a: AppendData => a.table
    }.exists {
      case r: DataSourceV2Relation => r.table.getClass.getName.contains("Manifest")
      case _ => false
    }
    if (manifest) synchronized { seconds += durationNs / 1e9 }
  }
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}
