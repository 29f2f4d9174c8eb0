package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `tpch`: the 22 TPC-H registry entries over the parquet tables, in a
  * seeded order per pass, every result fully consumed. A run does a fixed
  * number of whole passes, set by `--seconds`. Most time goes to
  * planning, shuffle and executor CPU; the manifest format is bypassed. */
final class TpchWorkload(b: Bench) extends Workload {
  private val spark = b.spark
  private val names = SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
  /** The last result of each query, for the oracle check. */
  private val results = mutable.Map.empty[String, (StructType, Array[Row])]
  private var passes = 0
  /** Passes the loop runs: one per `PassSeconds` of `--seconds`, about
    * what a pass takes on an idle 4-core host. */
  private val runPasses = math.max(1, math.round(b.seconds / TpchWorkload.PassSeconds).toInt)

  /** The inputs are the parquet tables themselves; set-up only resets. */
  def setup(): Unit = {
    results.clear()
    passes = 0
  }

  def setupReps: Int = 1

  /** Run every entry once, so first-use costs fall outside the loop. */
  def warmup(): Unit = names.foreach(n => SparkEntry.queries(n)(spark, b.data).collect())

  def loop(): Unit = {
    val r = new scala.util.Random(b.seed)
    while (passes < runPasses) {
      for (n <- r.shuffle(names)) {
        val rows = b.read(n) {
          val df = SparkEntry.queries(n)(spark, b.data)
          results(n) = (df.schema, Array.empty)
          df
        }
        rows.foreach(rs => results(n) = (results(n)._1, rs))
      }
      passes += 1
    }
  }

  /** Writes each query's last result and its DuckDB oracle SQL in the
    * layout of the program's oracle tool (`tools/compare.py`), which the
    * launcher runs. */
  def check(): Seq[String] = {
    val out = b.work.resolve("tpch-results")
    b.rmTree(out)
    val missing = names.filterNot(results.contains)
    for ((n, (schema, rows)) <- results)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(n).toString)
    val oracle = names.map(n => s"${Json.str(n)}:${Json.str(SparkEntry.oracleSql(n))}")
    Files.write(out.resolve("oracle_sql.json"),
      oracle.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    missing.map(n => s"tpch: $n produced no result")
  }

  def rowsWritten: Long = 0
  def inputBytes: Long = 0
  def storedDirs: Seq[Path] = Nil
  def liveRows: Long = 0
  def sizes: Map[String, Double] = Map(
    "tpch.queries" -> names.size.toDouble,
    "tpch.passes" -> passes.toDouble,
    "tpch.data_bytes" -> b.files(java.nio.file.Paths.get(b.data)).values.sum.toDouble)
}

object TpchWorkload {
  val PassSeconds = 30.0
}
