package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{DedupIndex, IndexMaintenance, MaintenanceLease, TextIndex, VectorIndex, VectorMaintenance}
import graft.sources.{ManifestFileSink, Tables}

/** `index`: the maintained text BM25, MinHash dedup and IVF vector
  * indexes. Each epoch is a text+dedup append transaction, a vector
  * append transaction, one delete window, a serve of each index and a
  * compaction of the index tables. Each transaction is
  * write-audit-publish across up to eleven manifest tables under a
  * lease, followed by reads of the same index. A run does a fixed
  * number of epochs, set by `--seconds`. */
final class IndexWorkload(b: Bench) extends Workload {
  import IndexWorkload._
  private val spark = b.spark
  private val inputs = b.work.resolve("index-inputs")
  private val textBase = b.work.resolve("index-text").toString
  private val vecBase = b.work.resolve("index-vec").toString
  private val bases = Seq(textBase, vecBase).map(Paths.get(_))
  private var docsIn, vecsIn = 0
  private var epoch = 0
  /** Epochs the loop runs: fixed by `--seconds`, not by speed. */
  private val epochs = math.max(1, math.round(b.seconds / EpochSeconds).toInt)
  private var termSets = IndexedSeq.empty[Seq[String]]
  private val served = mutable.LinkedHashSet.empty[Seq[String]]
  private var maxDocId, maxVecId = 0L
  /** (text?, lo, hi, epochs appended before, rows retracted). */
  private val deletes = mutable.ArrayBuffer.empty[(Boolean, Long, Long, Int, Long)]

  private def docBatch(e: Int): DataFrame =
    spark.read.parquet(inputs.resolve(s"docs/epoch=$e").toString)
  private def vecBatch(e: Int): DataFrame =
    spark.read.parquet(inputs.resolve(s"vecs/epoch=$e").toString)
  private def probeBatch(e: Int): DataFrame =
    spark.read.parquet(inputs.resolve(s"probes/epoch=$e").toString)

  def setup(): Unit = {
    bases.foreach(b.rmTree)
    b.rmTree(inputs)
    deletes.clear()
    served.clear()
    epoch = 0
    docsIn = 0
    vecsIn = 0
    b.phase("index.generate")(generate())
    b.par(() => IndexMaintenance.ensureBaseAt(spark, b.data, textBase),
      () => VectorMaintenance.ensureBaseAt(spark, b.data, vecBase))
  }

  /** One set-up builds two index bases, tens of seconds; a run has room
    * for one. */
  def setupReps: Int = 1

  /** One serve of each index. The loop's first transactions stay cold:
    * warming them would need throwaway bases, about 20 s more set-up on
    * a 4-core host. */
  def warmup(): Unit = b.par(
    () => TextIndex.serve(spark, IndexMaintenance.textPath(textBase), termSets(0)).collect(),
    () => DedupIndex.serve(spark, IndexMaintenance.dedupPath(textBase), probeBatch(epochs)).collect(),
    () => VectorIndex.serve(spark, VectorMaintenance.vecPath(vecBase), 1).collect())

  /** Seeded inputs: per epoch a document batch (fresh ids, texts
    * resampled from the corpus, some near-copies), a vector batch (base
    * vectors plus noise), and a dedup probe batch; plus BM25 term sets.
    * The probe batch one past the last epoch feeds the warm-up. */
  private def generate(): Unit = {
    val r = new scala.util.Random(b.seed)
    val docs = Tables(spark, b.data).documents
      .select("doc_id", "text", "lang", "source").orderBy("doc_id").collect()
    val tokens = docs.flatMap(_.getString(1).split(" ").filter(_.nonEmpty))
    val vocab = tokens.distinct.sorted
    maxDocId = docs.map(_.getLong(0)).max
    def nearCopy(t: String): String = {
      val ws = t.split(" ")
      ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.length))
      ws.mkString(" ")
    }
    var nextDoc = FirstNewId
    def freshDocId(): Long = {
      while (nextDoc % 13 == 5 || nextDoc % 13 == 6) nextDoc += 1
      nextDoc += 1
      nextDoc - 1
    }
    val docRows = for (e <- 0 to epochs; _ <- 0 until DocsPerBatch) yield {
      val src = docs(r.nextInt(docs.length))
      val text =
        if (r.nextDouble() < NearCopyShare) nearCopy(src.getString(1))
        else Seq.fill(src.getString(1).split(" ").length)(tokens(r.nextInt(tokens.length))).mkString(" ")
      Row(freshDocId(), text, src.getString(2), src.getString(3), text.length.toLong, e)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("epoch", IntegerType)))

    val probeRows = for (e <- 0 to epochs; k <- 0 until ProbeDocs) yield {
      val src = docs(r.nextInt(docs.length))
      val text = nearCopy(src.getString(1))
      Row(ProbeIdBase + e * ProbeDocs + k, text, src.getString(2), src.getString(3),
        text.length.toLong, e)
    }

    val emb = Tables(spark, b.data).embeddings.orderBy("vec_id").collect()
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType),
      StructField("epoch", IntegerType)))
    maxVecId = emb.map(_.getLong(0)).max
    var nextVec = FirstNewId
    val vecRows = for (e <- 0 to epochs; _ <- 0 until VecsPerBatch) yield {
      val src = emb(r.nextInt(emb.length))
      val v = src.getSeq[Float](1).map(x => (x + r.nextGaussian() * 0.05).toFloat)
      nextVec += 1
      Row(nextVec - 1, v, src.getInt(2), e)
    }
    def save(rows: Seq[Row], schema: StructType, name: String)(): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.partitionBy("epoch").parquet(inputs.resolve(name).toString)
    b.par(save(docRows, docSchema, "docs"), save(probeRows, docSchema, "probes"),
      save(vecRows, vecSchema, "vecs"))

    termSets = IndexedSeq.fill(TermSets)(Seq.fill(3)(vocab(r.nextInt(vocab.length))).distinct)
  }

  private def tablesUnder(base: Path): Seq[Path] = {
    val st = Files.walk(base)
    try st.iterator().asScala.filter(p => Files.isDirectory(p) && {
      val l = Files.list(p)
      try l.iterator().asScala.exists(_.getFileName.toString.startsWith("manifest-")) finally l.close()
    }).toSeq
    finally st.close()
  }

  private def probe(): Unit = {
    b.rec.span("sources.meta.probe")(
      ManifestFileSink.latestManifest(IndexMaintenance.corpusTable(textBase)))
    if (b.rec.traced) {
      val tables = bases.flatMap(tablesUnder)
      val manifests = tables.map(t => ManifestFileSink.publishedManifestCount(t.toString))
      b.rec.max("llm.base_manifests_max", manifests.max)
      b.rec.max("sources.meta.manifests_max", manifests.max)
      b.rec.max("sources.meta.data_files_max", tables.map(t => b.files(t.resolve("data")).size).max)
    }
  }

  def loop(): Unit = {
    val r = new scala.util.Random(b.seed * 31 + 7)
    while (epoch < epochs) epochOps(r)
  }

  private def epochOps(r: scala.util.Random): Unit = {
    val e = epoch
    b.write("llm.append", bases) {
      IndexMaintenance.ingestAppend(spark, textBase, docBatch(e), s"bench-$e")
    }.foreach(_ => docsIn += DocsPerBatch)
    b.write("llm.vec_append", bases) {
      VectorMaintenance.ingestAppend(spark, vecBase, vecBatch(e), s"benchvec-$e")
    }.foreach(_ => vecsIn += VecsPerBatch)
    epoch += 1
    val text = e % 2 == 0
    val width = if (text) DocDeleteWidth else VecDeleteWidth
    val added = if (text) docsIn else vecsIn
    val lo =
      if (added > width && r.nextBoolean()) FirstNewId + r.nextLong(added - width)
      else r.nextLong((if (text) maxDocId else maxVecId) + 1 - width)
    val before = added / (if (text) DocsPerBatch else VecsPerBatch)
    b.write("llm.delete", bases) {
      if (text) IndexMaintenance.deleteRanges(spark, textBase, Seq((lo, lo + width))).sum
      else VectorMaintenance.deleteRanges(spark, vecBase, Seq((lo, lo + width))).sum
    }.foreach(n => deletes += ((text, lo, lo + width, before, n)))
    val ts = termSets(r.nextInt(termSets.size))
    served += ts
    b.read("llm.serve_bm25")(TextIndex.serve(spark, IndexMaintenance.textPath(textBase), ts))
    b.read("llm.serve_dedup")(
      DedupIndex.serve(spark, IndexMaintenance.dedupPath(textBase), probeBatch(e)))
    b.read("llm.serve_knn")(VectorIndex.serve(spark, VectorMaintenance.vecPath(vecBase), 1))
    b.write("llm.compact", bases) {
      for (base <- bases) MaintenanceLease.withLease(base.toString, "compact") {
        for (t <- tablesUnder(base) if !t.endsWith("corpus"))
          ManifestFileSink.compact(t.toString)
      }
    }
    probe()
  }

  /** What the bases should hold: base rows plus appended batches, minus
    * each delete window applied to the rows present when it ran. */
  private def surviving(text: Boolean): DataFrame = {
    val base = (if (text) BaseDocs else BaseVecs)(Tables(spark, b.data))
    val id = if (text) "doc_id" else "vec_id"
    val n = if (text) docsIn / DocsPerBatch else vecsIn / VecsPerBatch
    val added = (if (text) spark.read.parquet(inputs.resolve("docs").toString)
      else spark.read.parquet(inputs.resolve("vecs").toString)).filter(col("epoch") < n)
    val all = base.withColumn("epoch", lit(-1)).unionByName(added)
    val gone = deletes.filter(_._1 == text).map { case (_, lo, hi, before, _) =>
      col("epoch") < before && col(id) >= lo && col(id) < hi
    }.foldLeft(lit(false))(_ || _)
    all.filter(!gone).drop("epoch")
  }

  /** The maintained corpora hold base + appended - retracted rows, and
    * every serve of the run equals the same serve from indexes built
    * fresh over the surviving rows. */
  def check(): Seq[String] = {
    val dir = b.work.resolve("index-check")
    val d = dir.toString
    b.rmTree(dir)
    b.par(() => surviving(text = true).write.parquet(s"$d/documents.parquet"),
      () => surviving(text = false).write.parquet(s"$d/embeddings.parquet"))
    val counts = for (text <- Seq(true, false)) yield {
      val (name, table, base, added) =
        if (text) ("text", IndexMaintenance.corpusTable(textBase), BaseDocs, docsIn)
        else ("vector", VectorMaintenance.corpusTable(vecBase), BaseVecs, vecsIn)
      val baseRows = base(Tables(spark, b.data)).count()
      val retracted = deletes.filter(_._1 == text).map(_._5).sum
      val expected = spark.read.parquet(if (text) s"$d/documents.parquet" else s"$d/embeddings.parquet").count()
      val got = b.manifest(table).count()
      if (got == baseRows + added - retracted && got == expected) None
      else Some(s"index: $name corpus holds $got rows; base $baseRows + appended $added - " +
        s"retracted $retracted; surviving rows $expected")
    }
    b.par(() => TextIndex.build(spark, d, s"$d/text"),
      () => DedupIndex.build(spark, d, s"$d/dedup"),
      () => VectorIndex.build(spark, d, s"$d/vec"))
    def same(what: String, maintained: => DataFrame, fresh: => DataFrame)(): Option[String] = {
      val (x, y) = (maintained.collect().toSeq, fresh.collect().toSeq)
      if (x == y) None
      else Some(s"index: $what served ${x.size} rows, fresh build ${y.size}; first difference " +
        x.map(Option(_)).zipAll(y.map(Option(_)), None, None).find { case (p, q) => p != q })
    }
    val serves = served.toSeq.map(ts => same(s"bm25 $ts",
        TextIndex.serve(spark, IndexMaintenance.textPath(textBase), ts),
        TextIndex.serve(spark, s"$d/text", ts)) _) ++
      (0 until epoch).map(e => same(s"dedup probe $e",
        DedupIndex.serve(spark, IndexMaintenance.dedupPath(textBase), probeBatch(e)),
        DedupIndex.serve(spark, s"$d/dedup", probeBatch(e))) _) :+
      same("knn over all cells",
        VectorIndex.serve(spark, VectorMaintenance.vecPath(vecBase), AllCells),
        VectorIndex.serve(spark, s"$d/vec", AllCells)) _
    (counts ++ b.par(serves: _*)).flatten
  }

  def rowsWritten: Long = docsIn.toLong + vecsIn
  def inputBytes: Long = (0 until epoch).map(e =>
    b.files(inputs.resolve(s"docs/epoch=$e")).values.sum +
      b.files(inputs.resolve(s"vecs/epoch=$e")).values.sum).sum
  def storedDirs: Seq[Path] = bases
  def liveRows: Long = b.manifest(IndexMaintenance.corpusTable(textBase)).count() +
    b.manifest(VectorMaintenance.corpusTable(vecBase)).count()
  def sizes: Map[String, Double] = Map(
    "index.epochs" -> epoch.toDouble,
    "index.docs_appended" -> docsIn.toDouble,
    "index.vecs_appended" -> vecsIn.toDouble,
    "index.rows_retracted" -> deletes.map(_._5).sum.toDouble,
    "index.base_files" -> bases.map(b.files(_).size).sum.toDouble)
}

object IndexWorkload {
  /** What `ensureBaseAt` loads into each managed corpus. */
  val BaseDocs: Tables => DataFrame = t =>
    t.documents.filter(col("doc_id") % 13 =!= 5 && col("doc_id") % 13 =!= 6)
  val BaseVecs: Tables => DataFrame = t => t.embeddings.filter(col("vec_id") % 13 =!= 6)

  /** Seconds of `--seconds` per epoch: about what one epoch takes on an
    * idle 4-core host. */
  val EpochSeconds = 20.0
  val DocsPerBatch = 100
  val VecsPerBatch = 100
  val ProbeDocs = 8
  val NearCopyShare = 0.2
  val TermSets = 8
  val DocDeleteWidth = 25L
  val VecDeleteWidth = 10L
  val FirstNewId = 100000L
  val ProbeIdBase = 50000000L
  val AllCells = 100000
}
