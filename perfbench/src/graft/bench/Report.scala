package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** JSON text for the files a run writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Turns one run's recordings into named metrics and writes them out. */
final case class Report(b: Bench, w: Workload, appends: AppendListener,
    sessionStart: Double, setups: Seq[Double], warm: Double, loopS: Double,
    failures: Seq[String]) {
  private val rec = b.rec
  private val ops = rec.ops.toSeq
  private val reads = ops.filter(o => !o.write && o.ok).map(_.seconds)
  private val writes = ops.filter(o => o.write && o.ok).map(_.seconds)
  private val (readTail, readTailPct) = Stats.tail(reads)
  private val (writeTail, writeTailPct) = Stats.tail(writes)
  private val storedBytes = b.bytesUnder(w.storedDirs)

  val attempted: Int = ops.size
  val failed: Int = ops.count(!_.ok)

  /** (name, value, unit): what a user of the system sees. On a workload
    * without writes (`tpch`) the write figures read 0. */
  val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", sessionStart + Stats.median(setups) + warm, "s"),
    ("ops_per_s", ops.count(_.ok) / loopS, "1/s"),
    ("rows_written_per_s", w.rowsWritten / loopS, "rows/s"),
    ("write_p50_s", Stats.median(writes), "s"),
    ("write_tail_s", writeTail, "s"),
    ("read_p50_s", Stats.median(reads), "s"),
    ("read_tail_s", readTail, "s"),
    ("stored_bytes_per_row",
      if (w.liveRows > 0) storedBytes.toDouble / w.liveRows else 0.0, "B/row"),
    ("heap_live_peak_mb", b.heapPeakMb, "MB"))

  private def spanStats(metric: String, span: String): Seq[(String, Double, String)] = {
    val ds = rec.spans.filter(_.name == span).map(_.seconds).toSeq
    Seq((s"$metric.calls", ds.size.toDouble, "count"),
      (s"$metric.busy_s", ds.sum, "s"),
      (s"$metric.p50_s", Stats.median(ds), "s"))
  }

  /** Per-layer metrics of a traced run. */
  lazy val layers: Seq[(String, Double, String)] = {
    val c = rec.counter _
    val app = appends.synchronized(appends.seconds.toSeq)
    val work = rec.listener.map(_.work.values.asScala.toSeq).getOrElse(Nil)
    def total(f: OpWork => Long) = work.map(f).sum.toDouble
    val filesRead = c("sources.scan.files_read")
    val filesPruned = c("sources.scan.files_pruned")
    val planS = rec.spans.filter(_.name == "plans").map(_.seconds).sum
    val readWall = ops.filter(!_.write).map(_.seconds).sum
    val cpuS = total(_.cpuNs) / 1e9
    val driverOnly = ops.map { o =>
      val iv = rec.listener.flatMap(l => Option(l.work.get(o.id)))
        .map(_.jobIntervals.toSeq).getOrElse(Nil)
      (o.wall1Ms - o.wall0Ms - Stats.unionLength(iv, o.wall0Ms, o.wall1Ms)) / 1000.0
    }.sum
    val bytesWritten = c("sources.bytes_written")
    Seq(("sources.append.calls", app.size.toDouble, "count"),
      ("sources.append.busy_s", app.sum, "s"),
      ("sources.append.p50_s", Stats.median(app), "s")) ++
    Seq(("sources.meta.probe_p50_s",
        Stats.median(rec.spans.filter(_.name == "sources.meta.probe").map(_.seconds).toSeq), "s"),
      ("sources.meta.manifests_max", c("sources.meta.manifests_max"), "count"),
      ("sources.meta.data_files_max", c("sources.meta.data_files_max"), "count"),
      ("sources.scan.files_read", filesRead, "count"),
      ("sources.scan.files_pruned", filesPruned, "count"),
      ("sources.scan.prune_ratio",
        if (filesRead + filesPruned > 0) filesPruned / (filesRead + filesPruned) else 0.0, "ratio"),
      ("sources.scan.dv_rows_skipped", c("sources.scan.dv_rows_skipped"), "count"),
      ("sources.scan.splits_planned", c("sources.scan.splits_planned"), "count")) ++
    spanStats("sources.delete", "sources.delete").take(2) ++
    Seq(("sources.delete.rows", c("sources.delete.rows"), "count")) ++
    spanStats("sources.optimize", "sources.optimize").take(2) ++
    Seq(("sources.optimize.bytes_rewritten", c("sources.optimize.bytes_rewritten"), "B"),
      ("sources.bytes_written", bytesWritten, "B"),
      ("sources.write_amp", if (w.inputBytes > 0) bytesWritten / w.inputBytes else 0.0, "ratio")) ++
    spanStats("plans", "plans") ++
    Seq(("plans.share", if (readWall > 0) planS / readWall else 0.0, "ratio"),
      ("exec.jobs", total(_.jobs), "count"),
      ("exec.stages", total(_.stages), "count"),
      ("exec.tasks", total(_.tasks), "count"),
      ("exec.tasks_per_op", if (ops.nonEmpty) total(_.tasks) / ops.size else 0.0, "count"),
      ("exec.run_s", total(_.runMs) / 1000, "s"),
      ("exec.cpu_s", cpuS, "s"),
      ("exec.cpu_util", cpuS / (loopS * b.cores), "ratio"),
      ("exec.gc_s", total(_.gcMs) / 1000, "s"),
      ("exec.driver_only_s", driverOnly, "s"),
      ("exec.shuffle_write_bytes", total(_.shuffleWrite), "B"),
      ("exec.shuffle_read_bytes", total(_.shuffleRead), "B"),
      ("exec.spill_bytes", total(_.spill), "B")) ++
    Seq("append", "vec_append", "delete", "compact").flatMap(v => spanStats(s"llm.$v", s"llm.$v")) ++
    Seq(("llm.base_manifests_max", c("llm.base_manifests_max"), "count")) ++
    Seq("serve_bm25", "serve_dedup", "serve_knn").flatMap(v => spanStats(s"llm.$v", s"llm.$v"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricObj(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${Json.str(n)}:{"value":${num(v)},"unit":${Json.str(u)}}""" }
      .mkString("{", ",", "}")

  private def numObj(ms: Seq[(String, Double)]): String =
    ms.map { case (n, v) => s"${Json.str(n)}:${num(v)}" }.mkString("{", ",", "}")

  def json: String = {
    val info = Seq(
      "session_start_s" -> sessionStart,
      "warmup_s" -> warm,
      "loop_s" -> loopS,
      "failed_ratio" -> (if (attempted > 0) failed.toDouble / attempted else 0.0),
      "reads" -> reads.size.toDouble,
      "writes" -> writes.size.toDouble,
      "read_tail_pct" -> readTailPct,
      "write_tail_pct" -> writeTailPct,
      "stored_bytes" -> storedBytes.toDouble) ++
      setups.zipWithIndex.map { case (s, i) => s"setup_rep${i + 1}_s" -> s } ++
      w.sizes.toSeq.sortBy(_._1)
    val traced = if (rec.traced) s""","layers":${metricObj(layers)}""" else ""
    s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""checks":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${metricObj(endToEnd)},""" +
      s""""info":${numObj(info)}$traced}"""
  }

  /** Spans, ops with their listener counts and facts, and each span
    * name's total and self time. */
  def writeTrace(dir: Path): Unit = {
    val t = dir.resolve("trace")
    Files.createDirectories(t)
    val base = ops.headOption.map(_.t0).getOrElse(0L)
    val spanLines = rec.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_s":${num((s.t0 - base) / 1e9)},"end_s":${num((s.t1 - base) / 1e9)},""" +
        s""""self_s":${num(rec.selfSeconds(s))}}"""
    }
    Files.write(t.resolve("spans.jsonl"), spanLines.asJava, StandardCharsets.UTF_8)
    val opLines = ops.map { o =>
      val wk = rec.listener.flatMap(l => Option(l.work.get(o.id)))
      val counts = wk.map(k => Seq("jobs" -> k.jobs.toDouble, "stages" -> k.stages.toDouble,
        "tasks" -> k.tasks.toDouble, "cpu_s" -> k.cpuNs / 1e9)).getOrElse(Nil)
      val facts = b.opFacts.get(o.id).map(_.toSeq.sortBy(_._1)).getOrElse(Nil)
      s"""{"id":${o.id},"name":${Json.str(o.name)},"write":${o.write},"ok":${o.ok},""" +
        s""""start_s":${num((o.t0 - base) / 1e9)},"seconds":${num(o.seconds)},""" +
        s""""work":${numObj(counts ++ facts)}}"""
    }
    Files.write(t.resolve("ops.jsonl"), opLines.asJava, StandardCharsets.UTF_8)
    val byName = rec.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"""${Json.str(n)}:{"calls":${ss.size},"total_s":${num(ss.map(_.seconds).sum)},""" +
        s""""self_s":${num(ss.map(rec.selfSeconds).sum)}}"""
    }
    Files.write(t.resolve("self_time.json"),
      byName.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
  }
}
