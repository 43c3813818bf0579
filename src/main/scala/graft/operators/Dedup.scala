package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}

/** Deduplication operators for document corpora, designed for 100 TB:
  * candidate generation is always bucketed (hash group-by or LSH band
  * equi-join) — there is no crossJoin anywhere in these plans.
  */
object Dedup {

  /** Jaccard similarity of two element-set columns, rounded to 4 dp — the one
    * scoring expression shared by every verify path.
    */
  def jaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)), 4)

  /** Exact dedup by content hash: one shuffle on `sha2(text)`, keeps the
    * smallest id per group. At scale this is the cheapest possible dedup —
    * the 256-bit hash shuffles instead of the document bodies.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")

  /** Per-document MinHash signature + LSH band hashes.
    *
    * Uses the native expression (graft.plans.MinHashState): the whole
    * shingle→hash→signature→bands pipeline is ONE tight per-row loop — the
    * column-algebra twin (HashFunctions.minhashSignature) benchmarked ~30×
    * slower at sf0.1 through interpreted higher-order functions.
    */
  def minhashed(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                k: Int = 32, bands: Int = 8, shingleW: Int = 3): DataFrame =
    docs.select(col(idCol),
        graft.plans.TextExpressions.minhashState(col(textCol), k, shingleW, bands).as("mh"))
      .select(
        col(idCol),
        col("mh.shingle_hashes").as("shingle_hashes"),
        col("mh.signature").as("signature"),
        col("mh.band_hashes").as("band_hashes"))

  /** Slim `(id, band, bhash)` bucket relation from a slim minhash frame —
    * the ONLY columns that shuffle through candidate-generation equi-joins.
    * Shingle arrays would multiply shuffle volume by the band count.
    */
  private def bandBuckets(mh: DataFrame): DataFrame =
    mh.select(col("id"), posexplode(col("band_hashes")).as(Seq("band", "bhash")))

  /** Exact-Jaccard verification of `(id_a, id_b)` candidate pairs: join each
    * side's shingle-hash set back in (frames with columns `(id, sh)`), score,
    * keep pairs at or above `threshold`. Shared by the batch and incremental
    * paths so their verify semantics cannot fork.
    */
  private def verifyPairs(pairs: DataFrame, shA: DataFrame, shB: DataFrame,
                          threshold: Double): DataFrame = pairs
    .join(shA.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
    .join(shB.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
    .filter(col("jaccard") >= threshold)

  /** Within-batch candidate pairs under the greedy lower-id-wins policy
    * (shared by BOTH incremental paths so the policy cannot fork): the
    * DROPPED side is the higher id, emitted as `id_a` to match the
    * cross-corpus pairs' drop convention.
    */
  private def withinBatchPairs(bNew: DataFrame): DataFrame =
    bNew.select(col("band"), col("bhash"), col("id").as("id_a"))
      .join(bNew.select(col("band"), col("bhash"), col("id").as("id_b")), Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b").as("id_a"), col("id_a").as("id_b")) // dropped side is the HIGHER id
      .distinct()

  /** Verified drop-id set for an incremental call, EAGERLY materialized:
    * localCheckpoint (not persist — ContextCleaner reclaims plain RDD blocks
    * once the returned plan is unreachable, while CacheManager pins
    * persisted Datasets until explicit unpersist) so callers can release
    * their wide minhash caches immediately after. Shared by both incremental
    * paths so the verify/materialize lifecycle cannot fork either.
    */
  private def dropSet(vsCorpus: DataFrame, withinNew: DataFrame,
                      shNew: DataFrame, shCorp: DataFrame,
                      threshold: Double): DataFrame =
    verifyPairs(vsCorpus, shNew, shCorp, threshold)
      .select(col("id_a").as("__graft_drop"))
      .unionByName(verifyPairs(withinNew, shNew, shNew, threshold)
        .select(col("id_a").as("__graft_drop")))
      .distinct()
      .localCheckpoint(true)

  /** Near-duplicate candidate pairs via MinHash-LSH banding, verified with
    * exact Jaccard over shingle-hash sets.
    *
    * Plan shape (the 100 TB-safe one): explode band hashes → shuffle on
    * (band, hash) via a self equi-join → distinct candidate pairs → Jaccard
    * only on candidates. Work is proportional to bucket collisions, never to
    * |docs|².
    */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 k: Int = 32, bands: Int = 8, shingleW: Int = 3,
                 jaccardThreshold: Double = 0.7): DataFrame = {
    // The text→shingle→signature pipeline runs ONCE: the per-doc state is
    // persisted and every downstream leg (both self-join sides + the verify
    // join) reads it. Lifecycle: no unpersist handle exists on a lazily-
    // returned plan — Spark's ContextCleaner unpersists the blocks when the
    // plan is GC'd, and MEMORY_AND_DISK evicts LRU rather than recomputing.
    val mh = minhashed(docs, idCol, textCol, k, bands, shingleW)
      .select(col(idCol).as("id"), col("shingle_hashes").as("sh"), col("band_hashes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = bandBuckets(mh)
    val a = buckets.select(col("band"), col("bhash"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("bhash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    verifyPairs(pairs, mh.select(col("id"), col("sh")), mh.select(col("id"), col("sh")),
        jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The corpus surviving exact dedup: one representative (min id) per
    * distinct content hash, via semi-join against the winners. Bodies stay
    * out of every exchange ONLY while the winner set broadcasts — see
    * [[exactCorpusOnePass]]'s cost note for when that stops being true;
    * this form is the right one for genuinely broadcastable winner sets
    * (high-duplication or bounded corpora).
    */
  def exactCorpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exact(docs, idCol, textCol).select(col("keep_id"))
    docs.join(keep, docs(idCol) === keep("keep_id"), "left_semi")
  }

  /** [[exactCorpus]] as one `row_number` window over the content hash
    * instead of aggregate + semi-join. Same survivors (min-id per hash),
    * different cost shape — and usually the better one:
    *
    *  - this form evaluates the input subtree ONCE and ships each body
    *    through exactly one hash(text) exchange;
    *  - the join form consumes its input TWICE (aggregate + probe —
    *    exchange reuse is defeated by the sides' divergent pruning), and —
    *    the part its doc used to overclaim — only keeps bodies out of
    *    exchanges while the winner set BROADCASTS. Past the broadcast
    *    threshold (any low-dup corpus beyond ~10M docs; sf10's 6M winner
    *    ids already are) the semi-join plans as SortMergeJoin and the
    *    full-width doc rows go through the join exchange anyway: two
    *    narrow exchanges + one body-width exchange + a double scan,
    *    strictly worse than this form. Measured at sf10: 1.0 s / 4 jobs
    *    (window) vs 1.6 s / 7 jobs (join).
    *
    * So: computed upstreams always use this (the join form would
    * double-evaluate them — q_pipeline_ingest at sf1 measured 2.3 s of
    * duplicated line-dedup subtree); raw scans use this too past broadcast
    * scale (r14, q_dedup_corpus switched); [[exactCorpus]] remains for
    * broadcastable winner sets, where bodies never move at all.
    */
  def exactCorpusOnePass(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sha2-256 like [[exact]] — identical hash, identical survivor set
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    docs.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** The corpus surviving near-dedup: greedy MinHash-LSH — a document is
    * dropped iff it near-matches (Jaccard ≥ threshold) some LOWER-id document.
    * (The standard pretraining-pipeline policy; transitive clusters keep their
    * minimum, plus any member that only matches dropped docs — full
    * connected-components needs an iterative join and is rarely worth it.)
    */
  def minhashCorpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 32, bands: Int = 8, shingleW: Int = 3,
                    jaccardThreshold: Double = 0.7): DataFrame = {
    val losers = minhashLsh(docs, idCol, textCol, k, bands, shingleW, jaccardThreshold)
      .select(col("id_b").as("__graft_drop")).distinct()
    docs.join(losers, docs(idCol) === col("__graft_drop"), "left_anti")
  }

  /** Incremental near-dedup of a NEW batch against an EXISTING corpus — the
    * production daily-ingest shape. A new doc is dropped iff it near-matches
    * (Jaccard ≥ threshold) any corpus doc, or any lower-id doc within its own
    * batch (the same greedy policy as [[minhashCorpus]]). Returns the
    * surviving new docs.
    *
    * Cost shape: the corpus side is never self-joined — its bands are only
    * PROBED by the new side's band hashes, so incremental work is
    * O(|new| × collision rate), independent of corpus size beyond the band
    * equi-join (which at 100 TB reads a pre-bucketed band index, not a fresh
    * corpus scan: persist [[minhashed]]'s output — `corpusIndex` takes that
    * frame verbatim, same `idCol` — or materialize it once with
    * [[Bucketing.writeBandIndex]], whose `(band, bhash)` bucket layout makes
    * the corpus side of the candidate join shuffle-free on every subsequent
    * ingest, plan pinned in BucketingSpec). The index MUST be built with the same
    * `k`/`bands`/`shingleW` as this call: `k` and `bands` are enforced at
    * runtime from the stored `signature`/`band_hashes` lengths (`raise_error`
    * inside the plan — no extra job); `shingleW` is not recoverable from the
    * stored hashes and silently changes both sides' buckets, so it is on the
    * caller. Ids must be unique ACROSS both frames (monotone ingest ids give
    * this for free).
    *
    * No-index corpus cost (r22): the corpus is read TWICE, never cached —
    * one streaming pass emitting only narrow `(id, band, bhash)` rows for
    * the candidate join, then a bounded second pass recomputing shingle
    * hashes for band-collision candidates only (broadcast semi-join). The
    * pre-r22 form instead persisted the full corpus MinHash state —
    * O(corpus) executor storage per call, which no 100 TB ingest survives;
    * two scans whose shuffled/cached volume is O(candidates) do. Survivors
    * are identical (DedupSpec pins parity against the index branch).
    *
    * Cache lifecycle: unlike the lazily-returned [[minhashLsh]], this call is
    * EAGER — the (tiny, id-width) drop set is materialized before returning
    * so the big intermediate (the new batch's minhash state) can be
    * unpersisted immediately instead of accumulating across daily-ingest
    * calls in a long-lived session. The drop set materializes via
    * `localCheckpoint`, NOT `persist`: a persisted Dataset is pinned by the
    * session's CacheManager until explicit unpersist (ContextCleaner never
    * touches it), which would leak one cached relation per daily batch;
    * localCheckpoint blocks belong to a plain RDD that ContextCleaner DOES
    * reclaim once the returned plan is unreachable. A caller-supplied
    * `corpusIndex`'s own persistence is caller-managed, untouched here.
    */
  def minhashIncremental(newDocs: DataFrame, corpus: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         k: Int = 32, bands: Int = 8, shingleW: Int = 3,
                         jaccardThreshold: Double = 0.7,
                         corpusIndex: Option[DataFrame] = None): DataFrame = {
    val mhNew = minhashed(newDocs, idCol, textCol, k, bands, shingleW)
      .select(col(idCol).as("id"), col("shingle_hashes").as("sh"), col("band_hashes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bNew = bandBuckets(mhNew)

    // (candidate pairs, corpus-side shingle sets restricted to what verify
    // will actually join) — the two corpus-derived inputs dropSet needs.
    val (vsCorpus, shCorp) = corpusIndex match {
      case Some(idx) =>
        // minhashed() output verbatim; k/bands mismatches fail fast per-row
        // instead of silently missing near-dups under meaningless buckets.
        val mhCorp = idx.select(
          col(idCol).as("id"),
          when(size(col("signature")) === k, col("shingle_hashes"))
            .otherwise(raise_error(format_string(
              "graft.Dedup.minhashIncremental: corpusIndex built with k=%d but call uses k=%d — rebuild the index with matching parameters",
              size(col("signature")), lit(k)))).as("sh"),
          when(size(col("band_hashes")) === bands, col("band_hashes"))
            .otherwise(raise_error(format_string(
              "graft.Dedup.minhashIncremental: corpusIndex built with bands=%d but call uses bands=%d — rebuild the index with matching parameters",
              size(col("band_hashes")), lit(bands)))).as("band_hashes"))
        // new × corpus candidates: only (id, band, bhash) widths shuffle.
        // Lazy is fine here — the pair set has one consumer (the verify
        // join), and the index side is caller-persisted storage, not a
        // recomputation hazard.
        val pairs = bNew.select(col("band"), col("bhash"), col("id").as("id_a"))
          .join(bandBuckets(mhCorp).select(col("band"), col("bhash"), col("id").as("id_b")),
            Seq("band", "bhash"))
          .select("id_a", "id_b").distinct()
        (pairs, mhCorp.select(col("id"), col("sh")))
      case None =>
        // No pre-built index — the r22 shape: NO full-corpus persist (the
        // old form cached every document's shingle-hash set, O(corpus)
        // executor storage on the library's one no-index ingest path).
        // Instead, guide-§8 proxy discipline: decide with small rows, touch
        // heavy rows once more only where the decision says to.
        //  1. ONE streaming corpus pass emits band hashes only — narrow
        //     (id, band, bhash) rows feed the candidate equi-join directly;
        //     the wide shingle sets never materialize corpus-wide.
        //  2. The candidate pair set (small: true near-dups + band
        //     collisions) materializes eagerly — it feeds both the verify
        //     leg and the id restriction below, and without the checkpoint
        //     the corpus band scan would re-run per consumer.
        //  3. A SECOND, BOUNDED corpus pass recomputes shingle hashes for
        //     candidate ids only (broadcast semi-join — bounded by the
        //     collision count, exactly the regime note on
        //     [[minhashIncrementalIndexed]]'s restriction). xxhash64 over
        //     [[graft.plans.TextExpressions.shingleSet]] is the same
        //     per-shingle hash (seed 42) minhashState emits, deduped by
        //     string instead of by hash — Jaccard over array_intersect/
        //     array_union is dedup-insensitive, so scores are identical
        //     (parity pinned in DedupSpec against the Some(corpusIndex)
        //     branch, which is bit-unchanged).
        val bCorp = bandBuckets(
          minhashed(corpus, idCol, textCol, k, bands, shingleW)
            .select(col(idCol).as("id"), col("band_hashes")))
        val pairs = bNew.select(col("band"), col("bhash"), col("id").as("id_a"))
          .join(bCorp.select(col("band"), col("bhash"), col("id").as("id_b")),
            Seq("band", "bhash"))
          .select("id_a", "id_b").distinct()
          .localCheckpoint(true)
        val candIds = pairs.select(col("id_b").as(idCol)).distinct()
        val sh = corpus.join(broadcast(candIds), Seq(idCol), "left_semi")
          .select(col(idCol).as("id"),
            transform(graft.plans.TextExpressions.shingleSet(col(textCol), shingleW),
              s => xxhash64(s)).as("sh"))
        (pairs, sh)
    }

    // dropSet materializes the id-width drop set eagerly (localCheckpoint),
    // so the new batch's wide minhash cache releases right after — see the
    // lifecycle note above. blocking=false: the release is fire-and-forget,
    // not on the caller's latency path.
    val drops = dropSet(vsCorpus, withinBatchPairs(bNew),
      mhNew.select(col("id"), col("sh")), shCorp, jaccardThreshold)
    mhNew.unpersist(blocking = false)
    newDocs.join(drops, newDocs(idCol) === col("__graft_drop"), "left_anti")
  }

  /** Exact incremental dedup of a NEW batch against an EXISTING corpus with
    * a Bloom prefilter — the daily-ingest twin of [[exact]]. A new doc
    * survives iff its content hash matches no corpus doc AND no lower-id doc
    * within its own batch (the [[exact]] min-id policy; NULL texts group
    * together within the batch exactly as [[exact]]'s hash group-by does,
    * while the cross-corpus comparison is null-strict like any join).
    *
    * The 100 TB shape — the corpus NEVER shuffles:
    *  1. One map-side corpus pass folds `xxhash64(sha2(text))` into a Bloom
    *     sketch (`bloom_filter_agg`, ~`bloomBitsPerItem` bits/doc), shipped
    *     to the new batch as a scalar subquery — the same mechanism Spark's
    *     own runtime bloom joins use, a few MB broadcast once.
    *  2. `might_contain` splits the new batch map-side: definite-new docs
    *     (bloom negative — the overwhelming majority of a healthy ingest)
    *     skip the corpus entirely.
    *  3. Only bloom-POSITIVE hashes (true dups + ~3% false positives at the
    *     default sizing) are broadcast back against a second map-side corpus
    *     pass (`left_semi`) and exactness-checked with an anti-join, so
    *     Bloom false positives never reach the output: the result is exact.
    * The only full shuffle anywhere is the new batch's within-batch window —
    * the small side by construction.
    *
    * `expectedCorpusItems` sizes the sketch: overestimating wastes `bits/8`
    * bytes per phantom doc; underestimating raises the FP rate (more
    * verify-path traffic) but never breaks correctness — the anti-join
    * stays exact. Sizings that would exceed Spark's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` or
    * `...maxNumItems` are rejected up front (BloomFilterAggregate clamps
    * BOTH silently — a clamped item estimate skews the hash-function count
    * and raises the FP rate even when the bit budget fits). An empty
    * corpus is handled: every batch doc is definite-new.
    */
  def exactIncremental(newDocs: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       expectedCorpusItems: Long = 1L << 20,
                       bloomBitsPerItem: Int = 8): DataFrame = {
    require(expectedCorpusItems > 0, "exactIncremental: expectedCorpusItems must be positive")
    require(bloomBitsPerItem > 0, "exactIncremental: bloomBitsPerItem must be positive")
    Seq(idCol, textCol).foreach(c => require(newDocs.columns.contains(c) && corpus.columns.contains(c),
      s"exactIncremental: both frames need a '$c' column"))
    Seq("__graft_h", "__graft_maybe", "__graft_rn").foreach(c =>
      require(!newDocs.columns.contains(c),
        s"exactIncremental: input already has a '$c' column — rename it first"))
    import org.apache.spark.sql.graftshim.ColumnShim
    val h = sha2(col(textCol), 256)

    // Spark CLAMPS the sketch to spark.sql.optimizer.runtime.bloomFilter
    // .maxNumBits (BloomFilterAggregate takes the min — silently). Past the
    // clamp the FP rate collapses toward 1 and the broadcast legs below ship
    // ~the whole batch, so a sizing that would clamp is a hard error here,
    // not a silent degradation.
    require(expectedCorpusItems <= Long.MaxValue / bloomBitsPerItem,
      "exactIncremental: expectedCorpusItems × bloomBitsPerItem overflows")
    val bits = math.max(64L, expectedCorpusItems * bloomBitsPerItem)
    val maxBits = newDocs.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(bits <= maxBits,
      s"exactIncremental: requested $bits bloom bits (expectedCorpusItems=$expectedCorpusItems" +
        s" × bloomBitsPerItem=$bloomBitsPerItem) exceeds spark.sql.optimizer.runtime" +
        s".bloomFilter.maxNumBits=$maxBits and Spark would silently clamp the sketch" +
        " (FP rate → 1). Raise the conf or lower the sizing.")
    // the item ESTIMATE clamps independently of the bit budget — an
    // estimate past maxNumItems skews the hash-function count (k is derived
    // from items/bits), raising the FP rate even when `bits` fits
    val maxItems = newDocs.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    require(expectedCorpusItems <= maxItems,
      s"exactIncremental: expectedCorpusItems=$expectedCorpusItems exceeds spark.sql" +
        s".optimizer.runtime.bloomFilter.maxNumItems=$maxItems and Spark would silently" +
        " clamp the estimate (hash-function count skews, FP rate rises)." +
        " Raise the conf or lower the sizing.")

    val bloomDf = corpus.select(
      ColumnShim.bloomFilterAgg(xxhash64(h), expectedCorpusItems, bits).as("bf"))
    val flagged = newDocs
      .withColumn("__graft_h", h)
      // coalesce is load-bearing: over an EMPTY corpus bloom_filter_agg
      // evaluates to NULL and might_contain(NULL, …) is NULL, which both
      // filter legs below would drop — silently losing the whole first-ever
      // ingest. NULL sketch ⇒ nothing can match ⇒ definite-new.
      .withColumn("__graft_maybe",
        coalesce(ColumnShim.mightContain(ColumnShim.scalarSubquery(bloomDf),
          xxhash64(col("__graft_h"))), lit(false)))

    val posHashes = flagged.filter(col("__graft_maybe"))
      .select(col("__graft_h")).distinct()
    val corpusMatches = corpus.select(h.as("__graft_h"))
      .join(broadcast(posHashes), Seq("__graft_h"), "left_semi")
      .distinct()
    // ONE anti-join over the whole batch, not a (!maybe) ∪ (maybe ⋉̸ matches)
    // union: corpusMatches ⊆ posHashes ⊆ {h : might_contain(h)} and the
    // bloom has no false negatives, so a maybe=false row can never be in
    // corpusMatches — the anti-join keeps it unconditionally, exactly as
    // the old !maybe leg did. Same survivors, one batch scan instead of
    // two plus a union (r13 flagged the family as job-floor-dominated at
    // the low end).
    val vsCorpus = flagged.join(broadcast(corpusMatches), Seq("__graft_h"), "left_anti")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__graft_h")).orderBy(col(idCol))
    vsCorpus.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_h", "__graft_maybe", "__graft_rn")
  }

  /** [[minhashIncremental]] against a pre-EXPLODED band index — the
    * `(id, sh, band, bhash)` relation [[Bucketing.writeBandIndex]] stores,
    * one row per (doc, band). With the index bucketed by `(band, bhash)` the
    * corpus side of the candidate join reads CO-LOCATED and never shuffles
    * (the validation filter preserves the bucketed partitioning — plan
    * pinned in BucketingSpec); the verify leg restricts the index to
    * candidate ids via a broadcast semi-join before touching the (wide)
    * shingle sets, so only matched documents' sets move. The index is read
    * twice — a narrow `(id, band, bhash)` probe scan and the id-restricted
    * `(id, sh)` verify scan — never a wide full scan. Same dedup policy
    * as [[minhashIncremental]]: drop a new doc iff it near-matches the
    * corpus or a lower-id batch sibling.
    *
    * Parameter discipline: `bands` is validated per-row against the stored
    * band ordinals (a row with `band >= bands` raises — catches an index
    * built with MORE bands); an index built with FEWER bands or a different
    * `shingleW`/`k` silently changes buckets, which is on the caller, as
    * with [[minhashIncremental]]'s `shingleW`.
    */
  def minhashIncrementalIndexed(newDocs: DataFrame, bandIndex: DataFrame,
                                idCol: String = "doc_id", textCol: String = "text",
                                k: Int = 32, bands: Int = 8, shingleW: Int = 3,
                                jaccardThreshold: Double = 0.7): DataFrame = {
    Seq("id", "sh", "band", "bhash").foreach(c => require(bandIndex.columns.contains(c),
      s"minhashIncrementalIndexed: band index has no '$c' column (expect Bucketing.writeBandIndex layout)"))
    val mhNew = minhashed(newDocs, idCol, textCol, k, bands, shingleW)
      .select(col(idCol).as("id"), col("shingle_hashes").as("sh"), col("band_hashes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bNew = bandBuckets(mhNew)

    // Candidate generation, eagerly materialized: the pair set feeds BOTH
    // the verify leg and the index-restriction semi-join below — without
    // the localCheckpoint the (expensive) index probe join would evaluate
    // once per consumer.
    val vsCorpus = bNew.select(col("band"), col("bhash"), col("id").as("id_a"))
      .join(validatedBandIndex(bandIndex, bands)
        .select(col("band"), col("bhash"), col("id").as("id_b")), Seq("band", "bhash"))
      .select("id_a", "id_b").distinct()
      .localCheckpoint(true)

    // Candidate ids are few in the regime this path targets (true near-dups
    // + band collisions); restrict the index to them BEFORE deduplicating
    // per-id shingle sets — a global dropDuplicates("id") over the index
    // would shuffle every document's set just to verify a handful. The
    // broadcast is bounded by that candidate count: a pathological batch
    // (one boilerplate doc band-colliding with millions of corpus docs)
    // should pre-dedup within itself or take [[minhashIncremental]]'s
    // `Some(corpusIndex)` branch, whose verify leg shuffle-joins the full
    // index (its no-index path broadcasts `candIds` too).
    val shCorp = bandIndex
      .join(broadcast(vsCorpus.select(col("id_b").as("id")).distinct()), Seq("id"), "left_semi")
      .select(col("id"), col("sh")).dropDuplicates("id")

    // Same eager-materialize + release lifecycle as minhashIncremental.
    val drops = dropSet(vsCorpus, withinBatchPairs(bNew),
      mhNew.select(col("id"), col("sh")), shCorp, jaccardThreshold)
    mhNew.unpersist(blocking = false)
    newDocs.join(drops, newDocs(idCol) === col("__graft_drop"), "left_anti")
  }

  /** Per-row `bands` validation as a FILTER, not a projection: a projection
    * that aliases a derived expression as `band` REPLACES the attribute, so
    * the bucketed scan's `HashPartitioning(band, bhash)` no longer
    * propagates and EnsureRequirements re-shuffles the index side of the
    * candidate join — silently defeating the co-location the bucketed
    * layout exists for. A Filter preserves its child's output partitioning
    * (pinned in BucketingSpec alongside the raw-join shape).
    */
  private[operators] def validatedBandIndex(bandIndex: DataFrame, bands: Int): DataFrame =
    bandIndex.filter(
      when(col("band") < bands, lit(true))
        .otherwise(raise_error(format_string(
          "graft.Dedup.minhashIncrementalIndexed: index row has band=%d but call uses bands=%d — rebuild the index with matching parameters",
          col("band"), lit(bands)))))

  /** Per-document 64-bit SimHash (native expression; column-algebra twin in
    * HashFunctions.simhash). */
  def simhashed(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), graft.plans.TextExpressions.simhash64(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming`, candidates generated by
    * chunk-LSH (pigeonhole: any pair within distance d < chunks shares at
    * least one of the `chunks` bit-ranges exactly).
    */
  def simhashDupes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   chunks: Int = 4, maxHamming: Int = 3): DataFrame = {
    val sh = simhashed(docs, idCol, textCol)
    val buckets = sh.select(
      col(idCol).as("id"), col("simhash").as("s"),
      posexplode(H.simhashChunks(col("simhash"), chunks)).as(Seq("chunk", "cval")))
    val a = buckets.select(col("chunk"), col("cval"), col("id").as("id_a"), col("s").as("s_a"))
    val b = buckets.select(col("chunk"), col("cval"), col("id").as("id_b"), col("s").as("s_b"))
    a.join(b, Seq("chunk", "cval"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b")
      .distinct()
      .withColumn("hamming", H.hamming(col("s_a"), col("s_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** N-gram Jaccard similarity of candidate pairs (exact verify used standalone:
    * give it any (id_a, id_b) candidate set — e.g. from [[minhashLsh]]'s band
    * stage — plus the docs to score).
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleW: Int = 3): DataFrame = {
    // shingle hashes only — computing the full MinHash state here would waste
    // the O(k x shingles) signature work just to discard it
    val sh = docs.select(col(idCol),
      transform(graft.plans.TextExpressions.shingleSet(col(textCol), shingleW),
        s => xxhash64(s)).as("sh"))
    pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .select("id_a", "id_b", "jaccard")
  }
}
