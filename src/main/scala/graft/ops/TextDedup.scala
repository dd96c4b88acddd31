package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashes

/** Document deduplication for LLM-training-data pipelines (SURVEY.md
  * §2D): exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design: the exact all-pairs Jaccard exists as the small-scale
  * oracle; the 100 TB paths are the banded ones (MinHash bands, SimHash
  * chunks), where candidate generation is an equi-join on band keys —
  * collision-proportional, never O(n²) — followed by exact verification
  * only on candidates.
  *
  * Perf notes: the word array is materialized ONCE per row before any
  * lambda touches it (embedding `split` inside a lambda re-splits per
  * element — O(len²) interpreted); signature/band computation uses the
  * one-pass codegen kernels in graft.functions (a k-wide `transform`
  * chain is k interpreted passes).
  */
object TextDedup {

  /** Whitespace-normalized lowercase text — the canonical form. */
  def normText = lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** Distinct HASHED word n-gram shingles (one-pass codegen kernel —
    * 8-byte join/intersect keys; see graft.functions.ShingleHashes).
    */
  private def hashedShingles(n: Int) =
    Hashes.shingleHashes(split(normText, " "), n)

  /** (doc_id, n_sh, s) — one row per distinct hashed shingle, with the
    * doc's shingle-set size carried along (so pair sizes need no extra
    * aggregation or re-scan after the self-join).
    */
  private def shingleRows(documents: DataFrame, n: Int): DataFrame =
    documents
      // core parallelism for the shingle kernel + the inverted-index
      // probe stage downstream — never file parallelism (a one-file
      // corpus would run the whole Σc² index join in one task)
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__sh", hashedShingles(n))
      .select(col("doc_id"), size(col("__sh")).cast("long").as("n_sh"),
        explode(col("__sh")).as("s"))

  /** Exact dedup: group identical normalized text, canonical = min
    * doc_id. Output one row per doc with its canonical id + dup flag.
    *
    * The text itself NEVER shuffles: rows are projected to
    * (doc_id, 192 bits of content digest) before the keyed window, so
    * the dedup exchange moves ~32 bytes/row at any corpus size.
    * Identity-by-digest (xxhash64 ∥ md5 of the normalized text) is the
    * content-addressable standard — a false merge needs a simultaneous
    * 64-bit and 128-bit collision on the same pair; the SQL oracle
    * partitions by the full normalized text and hash-matches this
    * output.
    */
  def exact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__h1"), col("__h2"))
    documents
      .select(col("doc_id"), xxhash64(normText).as("__h1"), md5(normText).as("__h2"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("boolean"))
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    * explode distinct shingles, equi-join on shingle, count common
    * shingles per pair; sizes ride along with the exploded rows so the
    * pair-level Jaccard needs no further joins. Exact — serves as the
    * oracle for the approximate variants. At 100 TB frequent shingles
    * skew the index join; that is what [[minhashLsh]] is for.
    *
    * The build side carries an explicit broadcast hint: this operator is
    * by design the SMALL-SCALE exact baseline (the inverted index fits a
    * broadcast), and pinning the strategy removes an AQE estimate
    * flip-flop measured at 14s-vs-134s on identical input. The banded
    * variants leave join strategy to AQE because at scale they must
    * shuffle.
    */
  def ngramJaccard(documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // lazily materialized: the self-join's probe side and its broadcast
    // build side otherwise each re-run the shingle kernel (2 full
    // normalize+shingle passes per call); this op is the declared
    // small-scale exact baseline, so the exploded frame is bounded by
    // its own size contract
    val sh = shingleRows(documents, n).staged
    sh.as("a")
      .join(broadcast(sh.as("b")), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard_raw", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash + LSH banding: a k-wide signature per doc (one-pass codegen
    * kernel), folded into b band keys; docs sharing a band bucket become
    * candidates; candidates are verified with exact Jaccard on their
    * shingle sets. One explode to (doc × band), one equi-join on the
    * bucket — collision-proportional work, the 100 TB-safe shape.
    */
  def minhashLsh(documents: DataFrame, bands: Int = 16, rows: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    // repartition before the signature kernel: scan parallelism is file
    // parallelism, and a corpus arriving as one parquet file would run
    // the whole minhash computation in one task (see the embedding-LSH
    // twin for the measured cost of that at sf1)
    // LAZY materialization of the two frames every downstream branch
    // re-derives (r16, guide §1.2/§2.3 "don't compute things you throw
    // away"): Catalyst has no cross-branch subplan reuse, so in the
    // single final plan `withShingles` was recomputed 3× (signature
    // branch + both verify sides) and `buckets` 2× (band self-join) —
    // i.e. FOUR normalize+shingle kernel passes and TWO minhash
    // signature passes over the corpus per call. A lazy local checkpoint
    // computes each once at first action and serves the other branches
    // from executor-local blocks — the staging write a production
    // pipeline does anyway; lazy, so plan-only construction (the
    // plan_audit contract) still runs no job, and each call builds a
    // fresh RDD (no cross-run result reuse). Measured at sf0.1:
    // dedup_minhash 1.03 → see OPTIMIZATION_r16.md (also feeds the
    // whole curation family + dedup_clusters).
    val withShingles = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .withColumn("shingles", hashedShingles(3))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
      .staged
    // Candidate generation on (doc_id, bucket) ONLY: the shingle arrays
    // stay out of the band self-join and the candidate dedup shuffle
    // (at 100 TB the exploded index is two longs per row, not the
    // documents). Shingle sets re-join once per surviving pair for the
    // exact-Jaccard verification.
    val buckets = withShingles
      .withColumn("minhash", Hashes.minhashSig(col("shingles"), bands * rows))
      .select(col("doc_id"),
        explode(Hashes.bandKeys(col("minhash"), bands, rows)).as("bucket"))
      .staged
    val pairs = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // shuffle-hash-hinted verify joins: the probe side is the id-only
    // candidate stream, the build side the shingle table; an SMJ here
    // would sort candidates WITH their shingle-array payloads (the
    // failure mode measured on the embedding twin at sf1 — ~100 GB of
    // sort spill). Shuffle-hash moves ids once and shingle sets once.
    pairs
      .join(withShingles.select(col("doc_id").as("a_id"), col("shingles").as("sh_a"))
        .hint("shuffle_hash"), Seq("a_id"))
      .join(withShingles.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"))
        .hint("shuffle_hash"), Seq("b_id"))
      .withColumn("jaccard_raw",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[minhashLsh]] with (bands, rows) DERIVED from the corpus size
    * ([[LshGeometry.minhash]]): rows grow log₄ n to keep background
    * collisions ∝ true dups, bands re-derived so the recall floor at
    * the minimum dup Jaccard stays ≥ 1−1e-6. At driver-gate sizes
    * (≤ ~6k docs) this is exactly the legacy (16, 4), so the strict
    * oracle gates are bit-for-bit unchanged; at sf1/sf10 it is
    * (18, 5)/(24, 7). The count is a parquet-metadata-sized job.
    */
  def minhashLshAuto(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val (bands, rows) = LshGeometry.minhash(graft.Tables.cachedCount(documents))
    minhashLsh(documents, bands, rows, threshold)
  }

  /** Prebuilt dedup state over an accepted corpus, for incremental
    * (continuous-ingest) dedup: content digests for the exact gate,
    * minhash band buckets for the near-dup gate, and the shingle sets
    * for exact verification of candidates. Built once, queried per
    * batch; at 100 TB each is a parquet table (digests and buckets
    * bucketed by their join key) that new batches equi-join against,
    * and accepted batches append to. `bands`/`rows` are carried in the
    * index so queries can never use a mismatched geometry.
    */
  case class DedupIndex(digests: DataFrame, buckets: DataFrame,
                        shingles: DataFrame, bands: Int, rows: Int)

  /** [[buildDedupIndex]] with size-derived geometry (see
    * [[minhashLshAuto]]); the derived (bands, rows) persist in the
    * index meta, so incremental batches always match the build.
    */
  def buildDedupIndexAuto(corpus: DataFrame): DedupIndex = {
    val (bands, rows) = LshGeometry.minhash(corpus.count())
    buildDedupIndex(corpus, bands, rows)
  }

  def buildDedupIndex(corpus: DataFrame, bands: Int = 16, rows: Int = 4): DedupIndex = {
    val sh = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .withColumn("shingles", hashedShingles(3))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val digests = corpus
      .select(xxhash64(normText).as("__h1"), md5(normText).as("__h2"))
      .distinct()
    val buckets = sh
      .withColumn("minhash", Hashes.minhashSig(col("shingles"), bands * rows))
      .select(col("doc_id"),
        explode(Hashes.bandKeys(col("minhash"), bands, rows)).as("bucket"))
    DedupIndex(digests, buckets, sh, bands, rows)
  }

  /** Persist a built [[DedupIndex]] as three parquet tables BUCKETED by
    * their equi-join keys (digests by `__h1`, band buckets by `bucket`,
    * shingle sets by `doc_id`) — the continuous-ingest layout SURVEY §4
    * promises: each day's batch equi-joins the corpus-sized index with
    * NO Exchange on the index side (the batch, the small side by
    * nature, reshuffles to match — CI-locked in TextDedupSpec). Band
    * geometry rides along in a one-row meta table so a query can never
    * run with mismatched bands/rows. Mirrors the cell-partitioned IVF
    * persistence (Similarity.writeIvfVersioned).
    *
    * Bucketing metadata lives in the catalog, so tables are registered
    * as `<tablePrefix>_digests/_buckets/_shingles` with files at
    * `path`. Returns the LOADED index (reading from storage), like the
    * IVF writer.
    */
  def writeDedupIndex(index: DedupIndex, tablePrefix: String, path: String,
                      nBuckets: Int = 8): DedupIndex = {
    val spark = index.digests.sparkSession
    import graft.sources.Sources.writeBucketed
    writeBucketed(index.digests, s"${tablePrefix}_digests", s"$path/digests",
      "__h1", nBuckets)
    writeBucketed(index.buckets, s"${tablePrefix}_buckets", s"$path/buckets",
      "bucket", nBuckets)
    writeBucketed(index.shingles, s"${tablePrefix}_shingles", s"$path/shingles",
      "doc_id", nBuckets)
    import spark.implicits._
    // n_buckets rides along with the band geometry so a LATER process
    // can re-declare the bucket specs in its own catalog
    // (Sources.registerBucketedTable) without guessing the layout
    Seq((index.bands, index.rows, nBuckets)).toDF("bands", "rows", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    loadDedupIndex(spark, tablePrefix, path)
  }

  /** Restore a persisted [[DedupIndex]]: bucketed reads via the catalog
    * (so joins see the bucketing) and geometry from the meta table.
    */
  def loadDedupIndex(spark: org.apache.spark.sql.SparkSession,
                     tablePrefix: String, path: String): DedupIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    DedupIndex(
      spark.table(s"${tablePrefix}_digests"),
      spark.table(s"${tablePrefix}_buckets"),
      spark.table(s"${tablePrefix}_shingles"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("rows"))
  }

  /** Incremental dedup of a new batch AGAINST the accepted corpus — the
    * daily-crawl shape: (1) exact gate, an anti-join of batch content
    * digests against the index (digest-only shuffle, like [[exact]]);
    * (2) near-dup gate, batch band buckets equi-join the index buckets
    * (collision-proportional, never corpus × batch), candidates verified
    * with exact Jaccard before a batch doc is dropped. Returns the
    * surviving batch rows with their original columns. Within-batch
    * duplicates are the batch-local [[exact]]/[[minhashLsh]] pass —
    * composition stays orthogonal so redeliveries and intra-batch dups
    * are each handled where they're cheapest.
    */
  def dedupIncremental(index: DedupIndex, batch: DataFrame,
                       threshold: Double = 0.5): DataFrame = {
    // The exact-gate survivors and their shingle sets feed THREE join
    // branches (bucket explode, verify re-join, final anti-join);
    // Catalyst has no cross-branch subplan reuse, so materialize the
    // batch-sized frames once instead of recomputing digests+minhash
    // per branch (measured 8.3 s → sub-second at sf0.01). The batch is
    // the small side by nature (a day's crawl, not the corpus) — at
    // scale this is the staging-table write every ingest run does
    // anyway.
    val noExact = batch
      .withColumn("__h1", xxhash64(normText))
      .withColumn("__h2", md5(normText))
      .join(index.digests, Seq("__h1", "__h2"), "left_anti")
      .drop("__h1", "__h2")
      .staged(true)
    val newSh = noExact
      .withColumn("shingles", hashedShingles(3))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
      .staged(true)
    val newBuckets = newSh
      .withColumn("minhash", Hashes.minhashSig(col("shingles"), index.bands * index.rows))
      .select(col("doc_id").as("new_id"),
        explode(Hashes.bandKeys(col("minhash"), index.bands, index.rows)).as("bucket"))
    // candidate generation carries only (new_id, old_id) — LSH-family rule
    val cand = newBuckets
      .join(index.buckets.withColumnRenamed("doc_id", "old_id"), Seq("bucket"))
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    val nearDupNew = cand
      .join(newSh.select(col("doc_id").as("new_id"), col("shingles").as("sh_new")), Seq("new_id"))
      .join(index.shingles.select(col("doc_id").as("old_id"), col("shingles").as("sh_old")), Seq("old_id"))
      .withColumn("__j",
        size(array_intersect(col("sh_new"), col("sh_old"))).cast("double") /
          size(array_union(col("sh_new"), col("sh_old"))))
      .filter(col("__j") >= threshold)
      .select(col("new_id").as("doc_id")).distinct()
    noExact.join(nearDupNew, Seq("doc_id"), "left_anti")
  }

  /** SimHash near-dups: one-pass 64-bit simhash (custom codegen
    * expression), bucketed by the blocked-pigeonhole scheme (Manku/
    * Jain/Das Sarma, WWW'07 §3; [[LshGeometry.simhashBlocks]]) — the
    * fingerprint splits into B blocks and a table is built per
    * (B−maxHamming)-block subset, so two docs within hamming distance
    * `maxHamming` MUST share a full table key — then exact hamming
    * verification (one XOR+popcount) on candidates. The candidate set
    * is a guaranteed superset of the answer at every B, so geometry
    * only moves cost, never output.
    *
    * Scale: B = 4 (the legacy 4×16-bit chunks) keys just 16 bits, and
    * Zipf-correlated fingerprints make those buckets HOT — the one
    * remaining super-linear curve in the r10 sf0.1→sf1 sweep (14.5×).
    * Above ~4k docs the derived B widens keys to ≈32+ bits (B = 6 →
    * C(6,3) = 20 tables): per-bucket occupancy collapses exponentially
    * while the table factor stays constant, so candidates — and the
    * self-join's shuffle — return to ∝ n. Table id is packed into the
    * key's high bits, so all tables join in ONE equi-join on a single
    * long column.
    */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = DefaultMaxHamming,
                      hotCap: Int = AutoHotCap): DataFrame = {
    simhashCandidates(documents, maxHamming, hotCap = hotCap)
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Per-bucket occupancy above which [[simhashCandidates]] switches a
    * bucket from the direct self-join to the sub-pigeonhole refinement.
    * 256 keeps the worst direct bucket at ≤ 32k candidate pairs (sub-
    * second) while the refined path only ever pays its 4× keying on the
    * few Zipf-hot buckets.
    */
  val DefaultSimhashHotCap = 256

  /** The hamming radius every simhash entry point defaults to — shared
    * so specs and callers reference the operator's default instead of
    * re-hardcoding a literal.
    */
  val DefaultMaxHamming = 3

  /** Sentinel for `hotCap`: derive it from the corpus size — corpora of
    * ≤ [[SimhashDirectMaxDocs]] docs run the pure direct self-join
    * (no occupancy pass at all), larger ones the hot-bucket-refined
    * plan with [[DefaultSimhashHotCap]].
    */
  val AutoHotCap: Int = -1

  /** Corpus size below which the occupancy machinery costs more than it
    * saves: the refined plan's occupancy window is a full extra
    * sort-shuffle of the keyed table (measured ~2× on the 50k-doc
    * sf0.1 corpus, where the r10 direct join was already 1.2 s), while
    * hot-bucket blowup is what the ×10 corpus exhibits (19 s at 500k
    * docs, 14.5× for ×10 — SCALE.md §6). Output is identical on both
    * paths by the superset-plus-exact-hamming construction; the gate
    * moves only cost. 100k sits between the last known-good decade and
    * the first known-bad one.
    */
  val SimhashDirectMaxDocs = 100000L

  /** The candidate-pair stage of [[simhashNearDups]], exposed so the
    * hot-bucket spec measures the operator's REAL shuffle load. Returns
    * distinct (a_id, b_id, sim_a, sim_b) BEFORE hamming verification — a
    * guaranteed superset of the hamming ≤ `maxHamming` pairs at any
    * (blocks, hotCap), so geometry and cap move cost, never output.
    *
    * Hot-bucket bound (round 11 — the r10 scale sweep's one remaining
    * super-linear curve): on Zipfian text, head-word mass correlates
    * fingerprint bits across UNRELATED documents, so a few bucket keys
    * go hot and the within-bucket self-join grows ~occupancy². For
    * buckets at occupancy ≤ `hotCap` the direct self-join is kept
    * (bit-for-bit the legacy candidate set — every driver-gate corpus
    * stays on this path end-to-end). A HOT bucket's members all agree
    * on the table's kept blocks, so a true pair's ≤ `maxHamming`
    * differing bits ALL lie in the table's `maxHamming` EXCLUDED
    * blocks; pigeonholing those excluded bits into `maxHamming`+1
    * sub-fields means a true pair agrees exactly on at least one
    * sub-field ([[Hashes]]-free integer arithmetic, computed during the
    * same keying explode). Hot buckets therefore self-join on
    * (bkey, skey) — occupancy per refined key collapses ~2^subWidth-
    * fold — and completeness is preserved per bucket (both members of
    * a within-bucket pair see the same occupancy tag). The r10
    * alternative (Manku §4 sorted-prefix probing) prunes the same
    * comparisons but needs a per-table sort; this stays one equi-join.
    */
  def simhashCandidates(documents: DataFrame, maxHamming: Int = DefaultMaxHamming,
                        blocks: Option[Int] = None,
                        hotCap: Int = AutoHotCap): DataFrame = {
    // one count (a catalog statistic when the input is a bare table —
    // r17) feeds both driver-side decisions (block geometry and the
    // direct-vs-refined plan choice)
    lazy val n = graft.Tables.cachedCount(documents)
    val nBlocks = blocks.getOrElse(LshGeometry.simhashBlocks(n, maxHamming))
    val cap = if (hotCap != AutoHotCap) hotCap else hotCapFor(n)
    candidatesFromKeys(simhashBuckets(documents, maxHamming, Some(nBlocks)), cap)
  }

  /** The (bkey, skey)-refined frame [[candidatesFromKeys]] self-joins
    * on — exposed (private[graft]) so specs measure bucket occupancy
    * over the operator's REAL join keys: above `hotCap` the join key is
    * (bkey, skey), so occupancy over bare bkey OVERSTATES hot-bucket
    * load (r12 advisor).
    */
  private[graft] def refinedKeys(keyed: DataFrame, hotCap: Int): DataFrame = {
    // hotCap == Int.MaxValue: no bucket can be hot — emit the pure
    // direct plan with NO occupancy pass (the legacy bkey equi-join,
    // bit-for-bit). Otherwise ONE refined plan, not a small/hot union
    // (a first cut filtered `tagged` twice, which re-keyed and
    // re-windowed the whole table per branch — ~1.4× on corpora with no
    // hot buckets; a second cut derived the hot set from a separate
    // groupBy-and-broadcast-back, which recomputed the simhash keying
    // kernel for both branches — ~1.8×): every row joins on
    // (bkey, skey), where skey is the CONSTANT 0 in a small bucket
    // (join collapses to the legacy bkey equi-join, candidate set
    // bit-for-bit) and the exploded sub-pigeonhole keys in a hot one.
    // Small and hot rows can never pair: same bkey ⇒ same occupancy ⇒
    // same regime. Cost: one occupancy window by bkey, one explode
    // (1 element/row when small — no row growth), one equi-join.
    import org.apache.spark.sql.expressions.Window
    if (hotCap == Int.MaxValue)
      keyed.select(col("doc_id"), col("sim"), col("bkey"), lit(0L).as("skey"))
    else {
      val tagged = keyed.withColumn("__c",
        count(lit(1)).over(Window.partitionBy("bkey")))
      tagged.select(col("doc_id"), col("sim"), col("bkey"),
        explode(when(col("__c") <= hotCap, array(lit(0L)))
          .otherwise(col("skeys"))).as("skey"))
    }
  }

  /** The direct-vs-refined plan choice for an n-doc corpus — the ONE
    * derivation [[simhashCandidates]] and its specs share, so a
    * measured load can never diverge from the cap the operator actually
    * runs with.
    */
  private[graft] def hotCapFor(n: Long): Int =
    if (n <= SimhashDirectMaxDocs) Int.MaxValue else DefaultSimhashHotCap

  private[graft] def candidatesFromKeys(keyed: DataFrame, hotCap: Int): DataFrame = {
    // lazily materialized: both sides of the bucket self-join otherwise
    // re-run the simhash kernel (normalize + fingerprint + keying) —
    // one narrow (doc_id, sim, bkey, skey) frame computed once instead
    // of twice per call
    val k2 = refinedKeys(keyed, hotCap).staged
    k2.as("a")
      .join(k2.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.skey") === col("b.skey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("a_id", "b_id")
  }

  /** The blocked-pigeonhole bucket table behind [[simhashNearDups]]:
    * (doc_id, sim, bkey), one row per (doc, table), table id packed
    * into the key's high bits. Public so specs and callers measure the
    * operator's REAL candidate shuffle, not a proxy.
    */
  def simhashBuckets(documents: DataFrame, maxHamming: Int = DefaultMaxHamming,
                     blocks: Option[Int] = None): DataFrame = {
    val nBlocks = blocks.getOrElse(
      LshGeometry.simhashBlocks(documents.count(), maxHamming))
    simhashKeysFor(
      documents
        .withColumn("sim", Hashes.simhash64(split(normText, " ")))
        .select(col("doc_id"), col("sim")),
      maxHamming, nBlocks)
  }

  /** The pure keying step of the blocked-pigeonhole scheme, applied to
    * a frame that already carries a 64-bit `sim` fingerprint: explodes
    * each row into C(blocks, maxHamming) (doc_id, sim, bkey) rows, one
    * per (blocks−maxHamming)-block subset, the table id packed into the
    * key's high bits so every table joins through ONE long column.
    * Split out from [[simhashBuckets]] so the pigeonhole completeness
    * property is spec-testable on planted fingerprints.
    */
  def simhashKeysFor(simmed: DataFrame, maxHamming: Int, blocks: Int): DataFrame =
    // One bounded-size kernel call per row (functions.SimhashKeys): the
    // original per-table expression forest in a single projection grew
    // with C(blocks, maxHamming) — at the size-derived B = 7 (sf100,
    // 35 tables) the generated doConsume blew Janino's 64 KB method
    // limit and the keying stage silently fell back to interpreted
    // execution. The kernel computes bkey + the sub-pigeonhole skeys
    // (sub id in fixed high bits; exWidth <= 64-bucket widths < 56, so
    // sub-fields of different widths can never alias across sub ids)
    // with the exact bit layout of the old columns — spec-locked
    // per-table against an in-spec reference model across geometries.
    // Trade-off: Catalyst no longer prunes unused skeys on clean
    // corpora (~4 shift/mask longs per exploded row — noise).
    simmed.select(col("doc_id"), col("sim"),
        explode(graft.functions.Hashes.simhashKeys(col("sim"), maxHamming, blocks)).as("__t"))
      .select(col("doc_id"), col("sim"),
        col("__t.bkey").as("bkey"), col("__t.skeys").as("skeys"))

  /** Repeated-SPAN removal (the C4/RefinedWeb intra-corpus rewrite, cf.
    * reference consumer's duplicate drop at the record level —
    * consumer/main.py:198-209 — taken down to sub-document granularity):
    * segment every document into fixed `spanWords`-word windows, keep
    * only the globally FIRST occurrence of each distinct span
    * ((doc_id, seg_idx)-lexicographic minimum), and reassemble the
    * surviving spans into the cleaned text. An exact duplicate document
    * loses every span; boilerplate shared across documents survives only
    * where it first appeared.
    *
    * Scale: two shuffles, both necessary — spans hash-partitioned by
    * content digest for the global first-occurrence window (the
    * grouping key is md5(seg), so skew is bounded by true span
    * multiplicity), then kept spans by doc_id for reassembly. Segment
    * construction is one narrow codegen projection (`transform` over
    * the word array — the array is never duplicated per span), and the
    * winner key is integer arithmetic (doc_id·10⁶ + seg_idx), portable
    * to the SQL oracle bit-for-bit.
    */
  def spanDedup(documents: DataFrame, spanWords: Int = 10): DataFrame =
    spanReassemble(documents,
      firstOccurrences(spanSegments(documents, spanWords)), spanWords)

  /** Winner selection shared by the span-dedup family: the globally
    * first (minimum-key) occurrence of each distinct span, as a
    * `min_by` HASH AGGREGATE on the content digest — not a
    * digest-partitioned window and not a winners-rejoin. The aggregate
    * gets map-side partial combining, so a pathological span repeated
    * 10⁹ times (boilerplate) reduces to one partial PER TASK before the
    * shuffle — the hot digest never concentrates its rows on one
    * reducer, which both alternatives would do. Ties are impossible
    * (`__k` encodes (doc_id, seg_idx) uniquely), so `min_by` is
    * deterministic.
    */
  private def firstOccurrences(segs: DataFrame): DataFrame =
    segs
      .groupBy(md5(col("seg")).as("__h"))
      .agg(min_by(
        struct(col("doc_id"), col("seg_idx"), col("seg")), col("__k")).as("__w"))
      .select(col("__w.doc_id").as("doc_id"),
        col("__w.seg_idx").as("seg_idx"), col("__w.seg").as("seg"))

  /** Fixed-window segmentation shared by [[spanDedup]] and
    * [[spanDedupIncremental]]: (doc_id, seg_idx, seg, __k) with the
    * integer winner key. One narrow codegen projection + posexplode.
    */
  private def spanSegments(documents: DataFrame, spanWords: Int): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("__words"))
      .withColumn("__segs",
        transform(
          sequence(lit(0), floor((size(col("__words")) - 1) / spanWords).cast("int")),
          i => concat_ws(" ", slice(col("__words"), i * spanWords + 1, lit(spanWords)))))
      .select(col("doc_id"), posexplode(col("__segs")).as(Seq("seg_idx", "seg")))
      .withColumn("__k", col("doc_id") * 1000000L + col("seg_idx"))

  /** Reassembly + accounting tail shared by the span-dedup family:
    * kept spans group back to one row per doc (doc_id-partitioned
    * shuffle), every input doc appears (left join), and removals are
    * conserved against the arithmetic segment total.
    */
  private def spanReassemble(documents: DataFrame, keptSegs: DataFrame,
                             spanWords: Int): DataFrame = {
    val kept = keptSegs
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg"))).as("text_dedup"),
        count(lit(1)).as("segs_kept"))
    documents
      .select(col("doc_id"),
        (floor((size(split(col("text"), " ")) - 1) / spanWords) + 1).cast("long")
          .as("segs_total"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("segs_total"),
        (col("segs_total") - coalesce(col("segs_kept"), lit(0L))).as("segs_removed"))
      .orderBy(col("doc_id"))
  }

  /** Prebuilt span state over an accepted corpus — the sub-document twin
    * of [[DedupIndex]]: the distinct span digests already present. A new
    * batch needs ONLY this digest set (8+32 bytes per distinct span, not
    * the corpus text) to know which of its spans are repeats.
    */
  case class SpanIndex(digests: DataFrame, spanWords: Int)

  def buildSpanIndex(corpus: DataFrame, spanWords: Int = 10): SpanIndex =
    SpanIndex(
      spanSegments(corpus, spanWords).select(md5(col("seg")).as("h")).distinct(),
      spanWords)

  /** Persist a [[SpanIndex]] bucketed by digest — same continuous-ingest
    * layout discipline as [[writeDedupIndex]]: batches equi-join the
    * index with no Exchange on the index side, accepted batches append
    * their new digests. Geometry (span width) rides in a meta table.
    */
  def writeSpanIndex(index: SpanIndex, tablePrefix: String, path: String,
                     nBuckets: Int = 8): SpanIndex = {
    val spark = index.digests.sparkSession
    graft.sources.Sources.writeBucketed(
      index.digests, s"${tablePrefix}_spans", s"$path/spans", "h", nBuckets)
    import spark.implicits._
    Seq(index.spanWords).toDF("span_words")
      .write.mode("overwrite").parquet(s"$path/meta")
    loadSpanIndex(spark, tablePrefix, path)
  }

  def loadSpanIndex(spark: org.apache.spark.sql.SparkSession,
                    tablePrefix: String, path: String): SpanIndex =
    SpanIndex(
      spark.table(s"${tablePrefix}_spans"),
      spark.read.parquet(s"$path/meta").head().getAs[Int]("span_words"))

  /** Append a batch's span digests to a persisted [[SpanIndex]] —
    * the continuous-ingest growth path, symmetric to
    * [[Similarity.appendToIvfPartitioned]]: only digests NOT already
    * present are written (anti-join idempotence guard, so a replayed
    * batch is a no-op), and the append goes through
    * the catalog with the SAME bucketing spec, so the no-Exchange join
    * property of the index side survives growth. Cost ∝ batch's distinct
    * new spans.
    */
  def appendToSpanIndex(index: SpanIndex, tablePrefix: String,
                        batch: DataFrame, nBuckets: Int = 8): Unit =
    spanSegments(batch, index.spanWords)
      .select(md5(col("seg")).as("h")).distinct()
      .join(index.digests, Seq("h"), "left_anti")
      .write.mode("append").format("parquet")
      .bucketBy(nBuckets, "h")
      .saveAsTable(s"${tablePrefix}_spans")

  /** Incremental [[spanDedup]] of a new batch AGAINST the accepted
    * corpus — the continuous-crawl form of the C4/RefinedWeb rewrite:
    * batch spans whose digest already exists in the index are removed
    * outright (their first occurrence is in the accepted corpus), and
    * the remaining spans compete within the batch by the same
    * first-occurrence rule. Cost ∝ batch: one anti-join of batch span
    * digests against the bucketed index, one batch-sized window, one
    * doc_id regroup. When every accepted doc_id precedes every batch
    * doc_id, output is IDENTICAL to [[spanDedup]] of the union
    * restricted to the batch (spec-proven) — the incremental path is
    * the batch path, factored by arrival.
    */
  def spanDedupIncremental(index: SpanIndex, batch: DataFrame): DataFrame = {
    val fresh = spanSegments(batch, index.spanWords)
      .withColumn("h", md5(col("seg")))
      .join(index.digests, Seq("h"), "left_anti")
    spanReassemble(batch, firstOccurrences(fresh), index.spanWords)
  }
}

/** Serving split for continuous-ingest dedup — the [[graft.ops]]
  * AnnServing pattern applied to the [[TextDedup.DedupIndex]]: the
  * first call per sf-dir BUILDS the corpus index and persists it
  * bucketed ([[TextDedup.writeDedupIndex]] — the offline job a real
  * deployment runs once per corpus version); every later call loads
  * the stored layout and pays only the batch-proportional cost. The
  * persisted index is provably equivalent to the in-memory one
  * (TextDedupSpec "persisted dedup index: same survivors, no Exchange
  * on the index side"), so the gated entry's output — and its oracle —
  * is unchanged; only the REPEATED-call cost drops to what a daily
  * crawl actually pays. At sf1 the inline composition spent ~2× its
  * time recomputing corpus shingles+minhash per call (SCALE.md §3).
  *
  * Lifecycle: the layout is published once per corpus version as
  * `<home>/layout` of a process-stable home
  * ([[graft.sources.ServingLayouts.publishedLayout]]), so a second JVM
  * re-registers the bucket specs in its own catalog and reuses the
  * files instead of rebuilding, and idle homes are reclaimed by
  * ServingLayouts.vacuum. The in-memory cache is keyed by (session,
  * corpus): a cached [[TextDedup.DedupIndex]] holds DataFrames and
  * catalog-table references bound to the session that built it, so a
  * NEW session in the same JVM re-registers and reloads rather than
  * serving dead frames.
  */
object DedupServing {
  import graft.sources.{ServingLayouts, SessionCache}
  import scala.util.control.NonFatal
  private val cache = new SessionCache[(String, TextDedup.DedupIndex)]()

  /** Catalog-safe table prefix per sf-dir (bucketing metadata lives in
    * the catalog, so each corpus needs distinct table names). */
  private def prefixOf(sfDir: String): String =
    "graft_dedup_serve_" + java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** The corpus/batch split the gated entry uses: 4-in-5 accepted
    * corpus, 1-in-5 arriving batch. */
  private def corpusOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 5 =!= 4)

  /** Cross-process (or cross-session) reuse: re-declare the three
    * bucket specs in THIS catalog over the stored files, then load.
    */
  private def reload(spark: SparkSession, sfDir: String,
                     dir: String): TextDedup.DedupIndex = {
    import graft.sources.Sources.registerBucketedTable
    val prefix = prefixOf(sfDir)
    val nb = spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_buckets")
    registerBucketedTable(spark, s"${prefix}_digests", s"$dir/digests", "__h1", nb)
    registerBucketedTable(spark, s"${prefix}_buckets", s"$dir/buckets", "bucket", nb)
    registerBucketedTable(spark, s"${prefix}_shingles", s"$dir/shingles", "doc_id", nb)
    TextDedup.loadDedupIndex(spark, prefix, dir)
  }

  /** The home's published layout, registered in THIS catalog. If it
    * fails to reload here, a fresh unpublished build serves instead,
    * leaving the shared layout untouched for whoever can still read it.
    */
  private def make(spark: SparkSession, sfDir: String): (String, TextDedup.DedupIndex) = {
    def build(dir: String): Unit = {
      TextDedup.writeDedupIndex(
        TextDedup.buildDedupIndexAuto(corpusOf(spark, sfDir)), prefixOf(sfDir), dir)
      ()
    }
    val home = ServingLayouts.dirFor("dedup", sfDir)
    val layout = ServingLayouts.publishedLayout(home)(build)
    try (layout, reload(spark, sfDir, layout))
    catch {
      case NonFatal(_) =>
        val own = ServingLayouts.unpublishedLayout(home)(build)
        (own, reload(spark, sfDir, own))
    }
  }

  def servedIndex(spark: SparkSession, sfDir: String): TextDedup.DedupIndex =
    ServingLayouts.served(cache, spark, sfDir)(make(spark, sfDir))

  /** [[TextDedup.dedupIncremental]] of the arriving batch against the
    * served (persisted, bucketed) corpus index. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.dedupIncremental(servedIndex(spark, sfDir),
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 5 === 4))
}
