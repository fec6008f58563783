package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.md5
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup
import graft.sources.{ParquetState, StateDir}

/** Streaming corpus ingestion with per-micro-batch incremental dedup
  * (EXTENSION, SURVEY §2.J×§2.K): new document files stream in, each
  * batch is deduped within itself (exact min-id) and then against the
  * corpus written so far, and only novel content is appended — the
  * growing corpus never accumulates a duplicate.
  *
  * Scale shape: the per-batch work is [[Dedup.exactDedup]] (one keyed
  * shuffle of (md5, id)) plus an anti-join against the corpus' hashes —
  * O(batch + corpus-hash-scan) per trigger, never corpus×corpus. With
  * `nearDupThreshold` set, the batch additionally runs
  * [[Dedup.dedupAgainstCorpus]]'s shingle-bucket join (new×corpus only).
  * At 100 TB the corpus-hash side is a column-pruned parquet scan of one
  * md5 column; a production deployment materializes it (or a
  * [[Dedup.minHashBands]] index) alongside the corpus.
  */
object CorpusIngest {

  /** Start an AvailableNow ingest of parquet document files from
    * `sourceDir` into `corpusDir`.
    *
    * @param schema explicit source schema — REQUIRED when the ingester
    *   starts before the first file lands (the natural deployment order);
    *   inferred from existing files when None.
    * @param maxFilesPerTrigger micro-batch size in files. Each trigger
    *   anti-joins against the corpus-so-far, so a large backlog ingests
    *   cheapest in FEW big batches.
    * @param hashIndex maintain a content-hash index at
    *   `corpusDir/_hash_index` (underscore prefix — invisible to corpus
    *   parquet reads) and dedup each batch against THAT instead of
    *   re-hashing the corpus text: per-trigger cost drops from a full
    *   text scan to a narrow 32-byte-column scan — the materialize-the-
    *   index discipline the scaladoc previously only recommended. The
    *   exact-dedup semantics are identical ([[Dedup.exactAgainstHashes]]);
    *   `nearDupThreshold` still needs the corpus text and ignores the
    *   index for its near-dup pass. */
  def ingestDocuments(spark: SparkSession, sourceDir: String, corpusDir: String,
      checkpointDir: String, idCol: String = "doc_id", textCol: String = "text",
      nearDupThreshold: Option[Double] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1,
      hashIndex: Boolean = false): StreamingQuery = {
    val srcSchema = schema.getOrElse(spark.read.parquet(sourceDir).schema)
    val hashDir = s"$corpusDir/_hash_index"
    // once per stream START (not per trigger): if the corpus predates the
    // hash index — ingested before hashIndex was enabled, or with it
    // toggled off for a while — the index is missing hashes for those
    // docs, and dedup against it would silently re-ingest their
    // duplicates from the second trigger on. Backfill the DELTA (corpus
    // hashes anti-join indexed hashes — a narrow md5 projection, one
    // corpus text scan) so the index covers the whole corpus before the
    // first batch trusts it.
    var hashBackfillDone = false
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // bounded micro-batches
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (hashIndex && !hashBackfillDone) {
          if (StateDir.hasParquetData(spark, corpusDir)) {
            val corpusHashes = ParquetState.read(spark, corpusDir)
              .select(md5(org.apache.spark.sql.functions.col(textCol))
                .as("corpus_content_hash"))
            val missing =
              if (StateDir.hasParquetData(spark, hashDir))
                corpusHashes.join(ParquetState.read(spark, hashDir),
                  Seq("corpus_content_hash"), "left_anti")
              else corpusHashes
            // pin before the append: the anti-join reads hashDir, and the
            // same lineage must not re-list the dir mid-write
            missing.localCheckpoint().write.mode("append").parquet(hashDir)
          }
          hashBackfillDone = true
        }
        val fresh = Dedup.exactDedup(batch, idCol, textCol)
        val survivors =
          if (!StateDir.hasParquetData(spark, corpusDir)) fresh
          else nearDupThreshold match {
            case Some(t) =>
              Dedup.dedupAgainstCorpus(fresh, ParquetState.read(spark, corpusDir),
                idCol, textCol, threshold = t)
            case None if hashIndex && StateDir.hasParquetData(spark, hashDir) =>
              Dedup.exactAgainstHashes(fresh, ParquetState.read(spark, hashDir), textCol)
            case None =>
              Dedup.exactAgainstCorpus(fresh, ParquetState.read(spark, corpusDir), textCol)
          }
        if (hashIndex) {
          // two sinks (corpus + hash index) — localCheckpoint cuts the
          // file lineage BEFORE the appends (the refreshByPath lesson:
          // a path append uncaches path-dependent plans, and a lazily
          // re-evaluated survivor set would re-dedup against itself)
          val pinned = survivors.localCheckpoint()
          pinned.write.mode("append").parquet(corpusDir)
          pinned.select(md5(pinned(textCol)).as("corpus_content_hash"))
            .write.mode("append").parquet(hashDir)
        } else survivors.write.mode("append").parquet(corpusDir)
        ()
      }
      .start()
  }

  /** Streaming BM25 index maintenance — [[ingestDocuments]]'s discipline
    * composed with [[graft.operators.TextAnalysis.refreshTextIndex]]:
    * each micro-batch of new documents is exact-deduped (within itself
    * and against the corpus-so-far), appended to the corpus, AND folded
    * into the live inverted index incrementally. The index is built on
    * the first surviving batch and refreshed on every later one, so at
    * any trigger boundary it serves probes over exactly the corpus
    * written so far — no rebuild ever runs.
    *
    * Scale shape per trigger: the ingest cost of [[ingestDocuments]]
    * plus refreshTextIndex's new-docs-proportional work (batch
    * tokenization + tf shuffle, vocab-sized df merge, one-row consts
    * delta). The refresh's disjoint-id precondition is discharged
    * STRUCTURALLY: only dedup survivors — ids not yet in the corpus —
    * reach the index, so no anti-join guard is needed.
    *
    * Exactly-once caveat: foreachBatch gives at-least-once across
    * crash/retry; a replayed batch would violate the disjoint-id
    * contract. The exact-against-corpus anti-join makes replays
    * harmless for the CORPUS; for the INDEX, a torn trigger needs the
    * caller's staging discipline or a rebuild — same contract as
    * refreshTextIndex itself. */
  def ingestWithTextIndex(spark: SparkSession, sourceDir: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 64,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val srcSchema = schema.getOrElse(spark.read.parquet(sourceDir).schema)
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = Dedup.exactDedup(batch, idCol, textCol)
        val survivors =
          if (!StateDir.hasParquetData(spark, corpusDir)) fresh
          else Dedup.exactAgainstCorpus(fresh, ParquetState.read(spark, corpusDir), textCol)
        // localCheckpoint — NOT persist: the corpus append below calls
        // refreshByPath(corpusDir), which UNCACHES any cached plan whose
        // lineage reads that path; a merely-persisted survivor set would
        // silently recompute against the post-append listing, where every
        // survivor matches itself, and hand the index an EMPTY refresh
        // (caught by the streaming-ingest spec). The checkpoint cuts the
        // lineage to materialized blocks with no file dependency, so both
        // sinks read the SAME pinned rows.
        val pinned = survivors.localCheckpoint()
        if (pinned.count() > 0) {
          pinned.write.mode("append").parquet(corpusDir)
          // a wrong "absent" here sends the batch down the
          // buildTextIndex branch — whose mode("overwrite") silently
          // replaces the index with one covering only that batch
          if (StateDir.hasMeta(spark, indexDir, StateDir.TextMeta))
            graft.operators.TextAnalysis.refreshTextIndex(
              pinned, idCol, textCol, indexDir)
          else
            graft.operators.TextAnalysis.buildTextIndex(
              pinned, idCol, textCol, indexDir, nBuckets)
        }
        ()
      }
      .start()
  }

  /** Which ANN layout [[ingestWithAnnIndex]] maintains, with its build
    * parameters (used only for the FIRST surviving batch's build — every
    * later batch refreshes from the index's own metadata sidecar, so the
    * stream and a cold rebuild can never disagree on parameters). */
  sealed trait AnnIndexSpec
  /** IVF: centroids are fitted on the first surviving batch and pinned
    * bit-exact in the index sidecar; refreshes assign against THOSE
    * (the [[graft.operators.Similarity.refreshIvfIndex]] contract). */
  final case class IvfIngest(k: Int, iterations: Int = 5) extends AnnIndexSpec
  /** Multi-table sign-projection LSH: planes regenerate from
    * (dim, nBits, nTables, seed) — fully deterministic. */
  final case class LshIngest(nBits: Int = 6, nTables: Int = 12,
      seed: Long = 7L) extends AnnIndexSpec

  /** Streaming ANN index maintenance — [[ingestWithTextIndex]]'s
    * discipline for the embedding side: each micro-batch of new vectors
    * is deduped (within itself by id, then against the corpus-so-far by
    * anti-join on a column-pruned id scan), appended to the corpus, AND
    * folded into the live ANN index incrementally
    * ([[graft.operators.Similarity.refreshIvfIndex]] /
    * [[graft.operators.Similarity.refreshLshIndex]] — per-row-independent
    * assignments, so the live index stays row-identical to a rebuild
    * over the corpus written so far). The index is built on the first
    * surviving batch and refreshed on every later one.
    *
    * The same `localCheckpoint` pin as the text twin guards the same
    * trap: the corpus append fires `refreshByPath(corpusDir)`, uncaching
    * any plan whose lineage reads that path — a merely-persisted
    * survivor set would lazily re-dedup against the post-append listing
    * (every survivor matches itself) and hand the index an EMPTY
    * refresh. Exactly-once caveat: identical to [[ingestWithTextIndex]]
    * (replayed batches are harmless for the corpus, need the caller's
    * staging discipline for the index). */
  def ingestWithAnnIndex(spark: SparkSession, sourceDir: String,
      corpusDir: String, indexPath: String, checkpointDir: String,
      index: AnnIndexSpec,
      idCol: String = "vec_id", vecCol: String = "embedding",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import graft.operators.Similarity
    val srcSchema = schema.getOrElse(spark.read.parquet(sourceDir).schema)
    val metaFile = index match {
      case _: IvfIngest => StateDir.IvfMeta
      case _: LshIngest => StateDir.LshMeta
    }
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = batch.dropDuplicates(idCol)
        val survivors =
          if (!StateDir.hasParquetData(spark, corpusDir)) fresh
          else fresh.join(
            ParquetState.read(spark, corpusDir)
              .select(org.apache.spark.sql.functions.col(idCol)),
            Seq(idCol), "left_anti")
        val pinned = survivors.localCheckpoint()
        if (pinned.count() > 0) {
          pinned.write.mode("append").parquet(corpusDir)
          val exists = StateDir.hasMeta(spark, indexPath, metaFile)
          index match {
            case IvfIngest(k, iters) =>
              if (exists)
                Similarity.refreshIvfIndex(pinned, idCol, vecCol, indexPath)
              else
                Similarity.buildIvfIndex(pinned, idCol, vecCol,
                  Similarity.fitCentroids(pinned, idCol, vecCol, k, iters),
                  indexPath)
            case LshIngest(nBits, nTables, seed) =>
              if (exists)
                Similarity.refreshLshIndex(pinned, idCol, vecCol, indexPath)
              else
                Similarity.buildLshIndex(pinned, idCol, vecCol, indexPath,
                  nBits, nTables, seed)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming NEAR-DUP index maintenance — the MinHash-LSH member of
    * the [[ingestWithTextIndex]]/[[ingestWithAnnIndex]] family, closing
    * the triangle: per-trigger near-dup cost drops from
    * [[ingestDocuments]]'s full corpus TEXT scan
    * ([[Dedup.dedupAgainstCorpus]]) to a probe of a persisted
    * signature/band index — a few hundred bytes per corpus doc, the
    * text never re-read.
    *
    * Index layout under the corpus (underscore dirs — invisible to
    * corpus parquet reads):
    *   - `_minhash_sigs`:  (doc_id, content_hash, signature) — md5 text
    *     hash for EXACT dedup + the [[Dedup.minHashSignatures]] sketch.
    *     `signature` is null for docs too short to shingle (< n words);
    *     those are protected by the hash column alone — the same split
    *     [[Dedup.dedupAgainstCorpus]] makes between its (a) and (b)
    *     passes.
    *   - `_minhash_bands`: (doc_id, band, bucket) — [[Dedup.minHashBands]]
    *     of the non-null signatures, the LSH probe side.
    *
    * Per trigger: within-batch exact dedup, then (1) anti-join on
    * content_hash vs the sigs index, (2) band-bucket join of the batch's
    * bands vs the bands index ([[Dedup.minHashCandidatesAgainst]] — new
    * × corpus only, never corpus × corpus), (3) sketch-ONLY verify: the
    * slot-agreement Jaccard estimate of [[Dedup.minHashJaccardEstimates]]
    * between batch and indexed signatures, drop at `est >= threshold`.
    * Survivors append to the corpus AND both index tables, so at every
    * trigger boundary the index covers exactly the corpus written so
    * far. The same `localCheckpoint` pin as the text/ANN twins guards
    * the same `refreshByPath` re-dedup trap on the multi-sink appends.
    *
    * Exactly-once caveat: as [[ingestWithTextIndex]] — replays are
    * harmless for the corpus (the hash anti-join), the index tables
    * need the caller's staging discipline across a torn trigger. */
  def ingestWithNearDupIndex(spark: SparkSession, sourceDir: String,
      corpusDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val srcSchema = schema.getOrElse(spark.read.parquet(sourceDir).schema)
    val sigsDir = s"$corpusDir/_minhash_sigs"
    val bandsDir = s"$corpusDir/_minhash_bands"
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = Dedup.exactDedup(batch, idCol, textCol).localCheckpoint()
        // batch-sized: one shingle pass -> (doc_id, content_hash,
        // signature|null); reused by the probe AND the index append
        val sigsNew = fresh
          .select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
          .join(Dedup.minHashSignatures(fresh, idCol, textCol, n, numHashes),
            Seq("doc_id"), "left")
          .localCheckpoint()
        val survivorIds =
          if (!StateDir.hasParquetData(spark, sigsDir)) sigsNew.select("doc_id")
          else {
            val sigIdx = ParquetState.read(spark, sigsDir)
            val exactIds = sigsNew.join(
              sigIdx.select("content_hash"), Seq("content_hash"), "left_anti")
              .select("doc_id")
            // a corpus of only too-short-to-shingle docs has sigs but no
            // bands yet — nothing to band-probe against
            if (!StateDir.hasParquetData(spark, bandsDir)) exactIds
            else {
            val bandsNew = Dedup.minHashBands(
              sigsNew.join(exactIds, Seq("doc_id"))
                .filter(col("signature").isNotNull)
                .select("doc_id", "signature"), numHashes, bands)
            val cands = Dedup.minHashCandidatesAgainst(bandsNew,
              ParquetState.read(spark, bandsDir))
            val agree = aggregate(
              zip_with(col("_sa"), col("_sb"), (x, y) => (x === y).cast("int")),
              lit(0), (acc, v) => acc + v)
            val matched = cands
              .join(sigsNew.select(col("doc_id").as("id_new"),
                col("signature").as("_sa")), Seq("id_new"))
              .join(sigIdx.select(col("doc_id").as("id_old"),
                col("signature").as("_sb")), Seq("id_old"))
              .filter((agree.cast("double") / lit(numHashes.toDouble))
                >= threshold)
              .select(col("id_new").as("doc_id")).distinct()
            exactIds.join(matched, Seq("doc_id"), "left_anti")
            }
          }
        val pinned = fresh
          .join(survivorIds.withColumnRenamed("doc_id", idCol), Seq(idCol))
          .localCheckpoint()
        if (pinned.count() > 0) {
          pinned.write.mode("append").parquet(corpusDir)
          val survSigs = sigsNew
            .join(pinned.select(col(idCol).as("doc_id")), Seq("doc_id"))
            .localCheckpoint()
          survSigs.write.mode("append").parquet(sigsDir)
          Dedup.minHashBands(
            survSigs.filter(col("signature").isNotNull)
              .select("doc_id", "signature"), numHashes, bands)
            .write.mode("append").parquet(bandsDir)
        }
        ()
      }
      .start()
  }
}
