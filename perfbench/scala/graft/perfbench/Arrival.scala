package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flows.{AnnIndex, StreamingDedup, TrainingCorpus}
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.sources.{CsvReader, LakeWriter, VersionedLake}

/** `arrival`: open loop, one writer. Timed batch i falls due at
  * `start + i * intervalMs`; the writer takes it at max(due, previous
  * end), so a slow batch delays the ones behind it. `perfbench/run.py`
  * sets the schedule (batch count, interval, retention cadence) and
  * generates exactly the chunks it needs. One batch op:
  *
  *  decode  — `CsvReader.read` (with `SchemaConform`) of the chunk CSV;
  *  stamp   — `LakeWriter.withAudit` + `withDatePartitions`;
  *  stage   — `VersionedLake.beginGroupCommit` + `writeAllAsync` + `settle`
  *            of the raw table (date-partitioned append);
  *  publish — the group commit's `publish`;
  *  apply   — `TrainingCorpus.applyBatch` with the ANN index (lexical and
  *            semantic dedup against the accumulated state);
  *  every `compactEvery`-th batch: the retention pass of the corpus state
  *  (`StreamingDedup.compactState`, which runs
  *  `StreamingRetention.compactState` over the same hashed/banded
  *  layout), `AnnIndex.maintain` and `VersionedLake.vacuumGroup` of the
  *  raw table.
  *
  * After each batch a read op, timed as its own op type, reads the raw
  * table at the latest version (per-batch row counts, reconciled with
  * the chunks') and at the version before it (time travel).
  *
  * Set-up lands chunks 0 and 1 (the second with a retention pass), so
  * every timed batch (chunks 2..) arrives against existing state.
  */
final class Arrival(inputs: String, work: String, batches: Int,
    intervalMs: Long, compactEvery: Int, trace: Tracer) extends Workload {
  import Arrival._

  private val rows: Map[Int, Long] = {
    val m = scala.io.Source.fromFile(s"$inputs/rows.txt")
    try m.getLines().map(_.split(" ")).map(a => a(0).toInt -> a(1).toLong)
      .toMap
    finally m.close()
  }
  private val lake = s"$work/lake"
  private val raw = s"$lake/raw"
  private val corpus = s"$lake/corpus"
  private val ann = s"$lake/ann"
  private val loadedAt = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")

  private def chunk(i: Int) = f"$inputs/chunk_$i%04d.csv"
  private def emb(spark: SparkSession, i: Int): DataFrame =
    spark.read.parquet(f"$inputs/emb_$i%04d.parquet")

  private def decode(spark: SparkSession, i: Int): DataFrame =
    trace("sources.CsvReader.decode") {
      CsvReader.read(spark, chunk(i))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("lingua").as("lang"), col("fonte_de_dados").as("source"),
          col("texto").as("text"), to_date(col("data_chegada")).as("arrived"))
    }

  /** Chunk `i` through every layer as batch id `i`. */
  private def batch(spark: SparkSession, i: Int, compact: Boolean): Unit = {
    val docs = decode(spark, i)
    val stamped = LakeWriter.withDatePartitions(
      LakeWriter.withAudit(docs, s"batch-$i", loadedAt), col("arrived"))
    val gc = trace("sources.VersionedLake.stage") {
      val gc = VersionedLake.beginGroupCommit(spark, raw)
      try {
        gc.writeAllAsync(Seq(("raw", stamped, "append",
          Seq("data_particao"))))
        gc.settle()
      } catch { case e: Throwable => gc.abort(); throw e }
      gc
    }
    val v = trace("sources.VersionedLake.publish")(gc.publish())
    trace("flows.TrainingCorpus.apply_batch") {
      TrainingCorpus.applyBatch(docs, i.toLong, corpus,
        batchEmbeddings = Some(emb(spark, i)), annRoot = ann,
        semThreshold = SemThreshold, jaccardThreshold = 0.5,
        chunkTokens = 64, overlap = 16)
    }
    if (compact) {
      trace("flows.StreamingRetention.compact") {
        val w0 = Host.bytesWritten()
        StreamingDedup.compactState(spark, corpus, TargetBytes)
        AnnIndex.maintain(spark, ann, TargetBytes)
        trace.count("flows.StreamingRetention.bytes_rewritten",
          (Host.bytesWritten() - w0).toDouble)
      }
      trace("sources.VersionedLake.vacuum") {
        // keep the previous version too: the read op time-travels to it
        VersionedLake.vacuumGroup(spark, raw, keepFrom = v - 1)
      }
    }
  }

  /** The read op: per-batch row counts at the latest version and the
    * total at the version before. Throws when either disagrees with the
    * chunks landed so far (`upTo`). */
  private def read(spark: SparkSession, upTo: Seq[Int]): Unit =
    trace("sources.VersionedLake.read") {
      val counts = VersionedLake.readTable(spark, raw, "raw")
        .groupBy(col("run_id")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = upTo.map(c => s"batch-$c" -> rows(c)).toMap
      if (counts != want)
        throw new IllegalStateException(s"raw counts $counts != $want")
      VersionedLake.versions(spark, raw).init.lastOption.foreach { p =>
        val n = VersionedLake.readTable(spark, raw, "raw", Some(p))
          .count()
        val want = upTo.init.map(rows).sum
        if (n != want)
          throw new IllegalStateException(s"v$p has $n rows, want $want")
      }
    }

  private val warm = Seq(0, 1)
  private val timed = (0 until batches).map(_ + warm.size)
  private val landed = warm ++ timed

  def setup(spark: SparkSession): Unit = {
    batch(spark, warm(0), compact = false)
    batch(spark, warm(1), compact = true)
    read(spark, warm)
  }

  def run(spark: SparkSession, ctx: Ctx): Unit = {
    val start = System.nanoTime()
    timed.zipWithIndex.foreach { case (c, k) =>
      ctx.settle()
      val due = start + k * intervalMs * 1000000L
      val now = System.nanoTime()
      if (now < due) Thread.sleep((due - now) / 1000000L,
        ((due - now) % 1000000L).toInt)
      val w0 = Host.bytesWritten()
      val files0 = if (trace.enabled) Host.treeFiles(raw)
        else Set.empty[String]
      val b = ctx.op("batch", s"batch-$c", due) {
        batch(spark, c, compact = (k + 1) % compactEvery == 0)
      }
      if (trace.enabled) {
        trace.count("sources.VersionedLake.files_written",
          (Host.treeFiles(raw) -- files0).size.toDouble)
        trace.count("sources.VersionedLake.bytes_written",
          (Host.bytesWritten() - w0).toDouble)
        trace.count("arrival.queue_wait_ms", (b.startNs - due) / 1e6)
      }
      val r = System.nanoTime()
      if (b.error.isEmpty)
        ctx.op("read", s"read-$c", r)(read(spark, landed.take(c + 1)))
    }
  }

  /** Every landed chunk's documents and embeddings, one frame each. */
  private def arrived(spark: SparkSession): (DataFrame, DataFrame) =
    (landed.map(decode(spark, _)).reduce(_ union _),
      landed.map(emb(spark, _)).reduce(_ union _))

  private var digest = ""

  def check(spark: SparkSession, ctx: Ctx): Seq[Check] = {
    val v0 = VersionedLake.versions(spark, corpus)
    val replay = TrainingCorpus.applyBatch(decode(spark, timed.head),
      timed.head.toLong,
      corpus, batchEmbeddings = Some(emb(spark, timed.head)),
      annRoot = ann, semThreshold = SemThreshold,
      jaccardThreshold = 0.5, chunkTokens = 64, overlap = 16)
    val v1 = VersionedLake.versions(spark, corpus)
    val survivors = TrainingCorpus.arrivalSurvivors(spark, corpus)
    val dupIds = survivors.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).count()
    val fpClash = arrived(spark)._1
      .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy(TextFunctions.fingerprint(col("text"))).count()
      .filter(col("count") > 1).count()
    val chunks = TrainingCorpus.arrivalChunks(spark, corpus)
    digest = s"${chunks.count()}:" + chunks.select(coalesce(sum(xxhash64(
      chunks.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")),
      lit(0)).cast("string")).head().getString(0)
    val batchOps = ctx.ops.filter(_.kind == "batch").map(_.name).toSeq
    Seq(
      Check("replayed batch id is a no-op", !replay && v0 == v1,
        s"applyBatch=$replay versions ${v0.size}->${v1.size}",
        failsOps = Seq(s"batch-${timed.head}")),
      Check("survivors have unique doc_id", dupIds == 0,
        s"${survivors.count()} survivors, $dupIds duplicated ids",
        failsOps = batchOps),
      Check("no two survivors share an exact fingerprint", fpClash == 0,
        s"$fpClash clashing fingerprints", failsOps = batchOps))
  }

  /** Traced run only, after the timed window: a one-shot corpus build
    * over every document the run landed (`TrainingCorpus.build` with
    * embeddings, then `AnnIndex.build` on its survivors and
    * `AnnIndex.searchBatch` of the held-out query vectors), and the LSH
    * precision of the lexical stage — candidate pairs at the Jaccard
    * threshold over all candidate pairs of `Dedup.minHashCandidatePairs`.
    */
  override def traceExtras(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    val (docs, embs) = arrived(spark)
    val ref = s"$work/reference"
    def ms(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      trace(name)(body)
      s"${name}_ms" -> (System.nanoTime() - t0) / 1e6
    }
    val build = ms("flows.TrainingCorpus.build") {
      TrainingCorpus.build(docs, jaccardThreshold = 0.8, chunkTokens = 64,
        overlap = 16, embeddings = Some(embs), semClusters = 16, semIters = 2)
        .write.parquet(s"$ref/corpus")
    }
    val kept = spark.read.parquet(s"$ref/corpus").select(col("doc_id"))
    val annBuild = ms("flows.AnnIndex.build") {
      AnnIndex.build(embs.join(kept, Seq("doc_id"), "left_semi"), "doc_id",
        "embedding", s"$ref/ann", dims = 64, coarseK = 4, coarseIters = 2,
        m = 4, k = 4, iters = 2)
    }
    val search = ms("flows.AnnIndex.search") {
      AnnIndex.searchBatch(spark, s"$ref/ann", "doc_id",
        spark.read.parquet(s"$inputs/queries.parquet"), "query_id",
        "embedding", nprobe = 2, c = 50, n = 10)
        .write.format("noop").mode("overwrite").save()
    }
    val quality = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.3)
    val pairs = Dedup.minHashCandidatePairs(
      Dedup.exactDedup(quality, "doc_id", "text"), "doc_id", "text")
      .agg(count(lit(1)), sum(when(col("jaccard") >= 0.8, 1).otherwise(0)))
      .head()
    Map(build, annBuild, search, "operators.Dedup.pair_precision" ->
      (if (pairs.getLong(0) == 0) 0.0
       else pairs.getLong(1).toDouble / pairs.getLong(0)))
  }

  private def chunkBytes(cs: Seq[Int]): Long = cs.map(c =>
    new java.io.File(chunk(c)).length +
      Host.treeBytes(f"$inputs/emb_$c%04d.parquet")).sum

  def inputBytes: Long = chunkBytes(timed)

  override def liveInputBytes: Long = chunkBytes(landed)

  def roots: Seq[String] = Seq(lake)

  override def facts: Map[String, String] = Map(
    "digest" -> digest,
    "interval_ms" -> intervalMs.toString,
    "batches" -> batches.toString,
    "compact_every" -> compactEvery.toString)
}

object Arrival {
  val TargetBytes: Long = 1L << 20
  /** q123's semantic drop threshold on the floor(x * 2^20) squared
    * distance grid. */
  val SemThreshold: Long = 1450000000000L
}
