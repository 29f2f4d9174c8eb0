package graft.bench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThan}

import graft.sources.{ManifestFileSink, Tables}

/** `ingest`: lineitem arrives in seeded append batches into one manifest-
  * format table, with point and range reads between appends, a key-range
  * delete every few appends and an `optimize` every two dozen. Files and
  * manifests pile up over the run, so metadata, commit and pruning costs
  * grow, and `optimize` adds background-work spikes. A run appends a
  * fixed number of batches, set by `--seconds`. */
final class IngestWorkload(b: Bench) extends Workload {
  import IngestWorkload._
  private val spark = b.spark
  private val inputs = b.work.resolve("ingest-inputs")
  private val tablePath = b.work.resolve("ingest-table")
  private val table = tablePath.toString
  /** Batches the loop appends: fixed by `--seconds`, not by speed. */
  private val appends = math.max(1, math.round(b.seconds * AppendsPerSecond).toInt)
  private var maxKey = 0L
  private var appended = 0
  private var batchBytes = Map.empty[Int, Long]
  /** (lo, hi, appends before the delete): what the check must subtract. */
  private val deletes = mutable.ArrayBuffer.empty[(Long, Long, Int)]

  def setup(): Unit = {
    b.rmTree(inputs)
    b.rmTree(tablePath)
    appended = 0
    deletes.clear()
    // Columns cast to the types the format stores; dates as epoch millis.
    val li = Tables(spark, b.data).lineitem
    val typed = li.select(
      col("l_orderkey").cast("long"), col("l_partkey").cast("long"),
      col("l_suppkey").cast("long"), col("l_linenumber").cast("int"),
      col("l_quantity").cast("double"), col("l_extendedprice").cast("double"),
      col("l_discount").cast("double"), col("l_tax").cast("double"),
      col("l_returnflag").cast("string"), col("l_linestatus").cast("string"),
      unix_millis(col("l_shipdate").cast("timestamp")).as("l_shipdate_ms"))
    typed.withColumn("batch",
        pmod(xxhash64(lit(b.seed), col("l_orderkey"), col("l_linenumber")), lit(Batches.toLong)))
      .filter(col("batch") < appends)
      .repartition(b.cores, col("batch"))
      .write.partitionBy("batch").parquet(inputs.toString)
    maxKey = typed.agg(max(col("l_orderkey"))).collect().head.getLong(0)
    batchBytes = (0 until appends).map(i =>
      i -> b.files(inputs.resolve(s"batch=$i")).values.sum).toMap
  }

  def setupReps: Int = 3

  /** Append/read cycles, a delete and an optimize on a throwaway table,
    * outside any span, so a traced run's `sources` figures cover the
    * loop alone. */
  def warmup(): Unit = {
    val warm = b.work.resolve("ingest-warmup").toString
    for (i <- 0 until math.min(WarmupAppends, appends)) {
      batch(i).write.format(b.fmt).option("path", warm).mode("append").save()
      b.manifest(warm).filter(col("l_orderkey") === i * 997L).collect()
      b.manifest(warm).filter(col("l_orderkey") >= i * 997L && col("l_orderkey") < i * 997L + RangeWidth).collect()
    }
    ManifestFileSink.deleteWhere(warm, keyRange(0, DeleteWidth))
    ManifestFileSink.optimize(spark, warm, "l_orderkey", OptimizeFiles)
    ManifestFileSink.vacuum(warm, 0L)
    b.rmTree(Paths.get(warm))
  }

  private def batch(i: Int): DataFrame =
    spark.read.parquet(inputs.resolve(s"batch=$i").toString)

  private def keyRange(lo: Long, hi: Long) =
    And(GreaterThanOrEqual("l_orderkey", lo), LessThan("l_orderkey", hi))

  def loop(): Unit = {
    val r = new scala.util.Random(b.seed)
    val dirs = Seq(tablePath)
    def probe(): Unit = {
      b.rec.span("sources.meta.probe")(ManifestFileSink.latestManifest(table))
      if (b.rec.traced) {
        b.rec.max("sources.meta.manifests_max", ManifestFileSink.publishedManifestCount(table))
        b.rec.max("sources.meta.data_files_max", b.files(tablePath.resolve("data")).size)
      }
    }
    while (appended < appends) {
      val i = appended
      b.write("ingest.append", dirs) {
        batch(i).write.format(b.fmt).option("path", table).mode("append").save()
      }
      appended += 1
      // One point and one range read at seeded keys: every run reads the
      // same mix.
      val k = 1 + (r.nextDouble() * maxKey).toLong
      b.read("ingest.read_point")(b.manifest(table).filter(col("l_orderkey") === k))
      val lo = 1 + (r.nextDouble() * (maxKey - RangeWidth)).toLong
      b.read("ingest.read_range")(b.manifest(table)
        .filter(col("l_orderkey") >= lo && col("l_orderkey") < lo + RangeWidth))
      if (appended % DeleteEvery == 0) {
        val lo = 1 + (r.nextDouble() * (maxKey - DeleteWidth)).toLong
        deletes += ((lo, lo + DeleteWidth, appended))
        b.write("ingest.delete", dirs) {
          val n = b.rec.span("sources.delete")(
            ManifestFileSink.deleteWhere(table, keyRange(lo, lo + DeleteWidth)))
          b.rec.add("sources.delete.rows", n.toDouble)
        }
      }
      if (appended % OptimizeEvery == 0) {
        // `optimize`, then drop the files it replaced, as a table owner would.
        val id = b.rec.ops.size
        b.write("ingest.optimize", dirs) {
          b.rec.span("sources.optimize")(
            ManifestFileSink.optimize(spark, table, "l_orderkey", OptimizeFiles))
          b.rec.span("sources.vacuum")(ManifestFileSink.vacuum(table, 0L))
        }
        b.opFacts.get(id).foreach(f => b.rec.add("sources.optimize.bytes_rewritten", f("bytes_written")))
      }
      if (appended % ProbeEvery == 0) probe()
    }
    probe()
  }

  private def expected: DataFrame = {
    val all = spark.read.parquet(inputs.toString).filter(col("batch") < appended)
    val gone = deletes.map { case (lo, hi, before) =>
      col("batch") < before && col("l_orderkey") >= lo && col("l_orderkey") < hi
    }.foldLeft(lit(false))(_ || _)
    all.filter(!gone).drop("batch")
  }

  def check(): Seq[String] = {
    if (appended == 0) return Seq("ingest: no batch was appended")
    val cols = expected.columns.toSeq
    val want = b.digest(expected)
    val got = b.digest(b.manifest(table).select(cols.map(col): _*))
    if (want == got) Nil
    else Seq(s"ingest: table digest $got, expected $want (count, hash sum)")
  }

  def rowsWritten: Long =
    spark.read.parquet(inputs.toString).filter(col("batch") < appended).count()
  def inputBytes: Long = (0 until appended).map(batchBytes).sum
  def storedDirs: Seq[Path] = Seq(tablePath)
  def liveRows: Long = b.manifest(table).count()
  def sizes: Map[String, Double] = Map(
    "ingest.batches_appended" -> appended.toDouble,
    "ingest.deletes" -> deletes.size.toDouble,
    "ingest.table_files" -> b.files(tablePath).size.toDouble,
    "ingest.input_batches" -> appends.toDouble,
    "ingest.input_rows" -> spark.read.parquet(inputs.toString).count().toDouble,
    "ingest.input_bytes" -> batchBytes.values.sum.toDouble)
}

object IngestWorkload {
  /** lineitem splits into this many seeded batches of about 2,000 rows;
    * only the ones a run appends are written out as inputs. */
  val Batches = 300
  /** Batches appended per second of `--seconds`: about what a 4-core host
    * appends, with the reads, deletes and optimizes between, when idle. */
  val AppendsPerSecond = 2.4
  val DeleteEvery = 4
  val OptimizeEvery = 24
  val ProbeEvery = 3
  val WarmupAppends = 8
  val OptimizeFiles = 4
  val RangeWidth = 4000L
  val DeleteWidth = 1500L
}
