package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.plans.Checkpoints.SweepSyntax

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2C) over the
  * `documents` / `embeddings` fixtures.
  *
  * The 100 TB shape of every near-dup variant here is the same three-stage
  * pipeline: (1) per-row signature, computed in one codegen'd pass;
  * (2) candidate generation by *bucket join on the signature* — never an
  * all-pairs cross join; (3) exact verification on the candidate pairs only.
  * Bucket skew is the real-world failure mode at scale, so candidate pair
  * expansion is bounded: buckets up to `maxBucket` expand all pairs, larger
  * buckets degrade to a linear anchor star (see [[candidatePairs]]) so a
  * mega-cluster of boilerplate produces O(M) candidates instead of O(M²)
  * while still reaching verification and cluster resolution.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")

  /** Candidate-bucket size cap (see class doc). */
  val maxBucket = 64

  /** Document-frequency cut for the exact n-gram inverted index: shingles
    * appearing in more than this many documents are dropped before pair
    * expansion (see [[dedupNgramJaccard]]). */
  val dfCut = 256

  // ---------------------------------------------------------------- exact
  /** Exact dedup: hash-groupBy on a content digest. One shuffle of
    * (digest, doc_id) pairs — the minimum possible data movement; the text
    * itself never shuffles. */
  val dedupExact: Q = (s, d) =>
    docs(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  // -------------------------------------------------------------- shingles
  /** Word 3-gram shingles (distinct), with a whole-text fallback for short
    * docs. Native expression — see [[graft.functions.WordShingles]]. */
  private[operators] def shingles(text: Column, k: Int = 3): Column =
    graft.functions.WordShingles.word_shingles(text, k)

  /** Candidate pairs from bucket membership (input: one row per
    * (bucket, doc_id), unique). Buckets up to [[maxBucket]] expand all
    * (a < b) pairs; OVERSIZED buckets degrade to an anchor star — every
    * member paired with the bucket's min doc_id — which is linear in bucket
    * size and never collects the member list into one row. A corpus-wide
    * boilerplate bucket (spam cluster, empty string) therefore can't emit
    * M²/2 pairs in one task, but its members still reach exact verification
    * and stay connected through the anchor for cluster resolution — unlike a
    * dropped bucket, which silently loses the whole duplicate class. */
  private[graft] def candidatePairs(buckets0: DataFrame,
      smallAnchors: Boolean = true): DataFrame = {
    import graft.functions.{BucketMembersAgg, LongPairs}
    // The bucket frame feeds two consumers (the membership aggregation and
    // the big-bucket join-back); without materializing it once, Spark
    // recomputes the whole upstream signature pipeline per consumer.
    val buckets = buckets0.sweepPin()
    // ONE bounded aggregation pass: per bucket, the (maxBucket+1) smallest
    // member ids — complete whenever the bucket is small enough to expand —
    // plus the exact count. O(cap) state per bucket (a mega-bucket never
    // collects into one row), map-side partials, one shuffle on the bucket
    // key. Replaces the former stats-pass + semi-join + collect_set-pass +
    // join scaffold (5 exchanges → 2 for the whole candidate stage).
    val grouped = buckets.groupBy(col("bucket"))
      .agg(BucketMembersAgg.bucket_members(maxBucket + 1, col("doc_id")).as("m"))
      .select(col("bucket"), col("m._1").as("ids"), col("m._2").as("n"))
      .filter(col("n") >= 2)
      .sweepPin() // feeds the small expansion + the big broadcast
    val small = grouped.filter(col("n") <= maxBucket)
      .select(explode(LongPairs.long_pairs(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // Oversized buckets degrade to a linear anchor star (anchor = smallest
    // member id = ids[0]): every member pairs with the anchor, keeping the
    // duplicate class connected without M²/2 pair expansion. The oversized
    // bucket list is usually tiny (degenerate buckets are rare), but its
    // WORST case is ⌈keysPerDoc·corpus/(maxBucket+1)⌉ rows (each document
    // contributes one bucket row PER band/chunk key) — corpus-scaling — so
    // the join-back rides the caller's size gate ([[DedupOps.anchorsSmall]],
    // which divides the cap multiplier by the caller's keys-per-doc):
    // broadcast under (maxBucket+1)/keysPerDoc × cap docs, keyed
    // shuffle-hash build past it. Either way the star streams out of the
    // join — no member list ever materializes in one row.
    val anchors = grouped.filter(col("n") > maxBucket)
      .select(col("bucket"), element_at(col("ids"), 1).as("anchor"))
    val big = buckets
      .join(if (smallAnchors) broadcast(anchors)
            else anchors.hint("shuffle_hash"), "bucket")
      .filter(col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("a"), col("doc_id").as("b"))
    small.unionAll(big).distinct()
  }

  /** Exact word-shingle Jaccard between two doc_ids, given the docs frame.
    * Only the docs that appear in a candidate pair are shingled (semi-join
    * pushdown — at scale the candidate set is a sliver of the corpus), and
    * the shingle frame is checkpointed once because it feeds both sides of
    * the pair join.
    *
    * Jaccard depends only on the two CONTENTS, so the set arithmetic runs
    * once per distinct (content, content) pair and the verdict joins back
    * to the id pairs — the same fold [[dedupFuzzy]] applies to its DP. On a
    * duplicate-heavy corpus the id-pair count explodes combinatorially (m
    * copies of each of two near-dup texts → m² id pairs, ONE content pair;
    * measured on the 2× exact-copy fixture: candidate pairs grow 935 →
    * 8 740 while distinct content pairs stay flat), and identical contents
    * short-circuit to jaccard = 1.0 with no set arithmetic at all — on the
    * corpora dedup actually runs on, MOST candidate pairs are exact copies. */
  private def verifyJaccard(s: SparkSession, d: String, pairs0: DataFrame, threshold: Double): DataFrame = {
    val pairs = pairs0.sweepPin() // consumed by ids + the pair join
    val ids = pairs.select(col("a").as("doc_id"))
      .unionAll(pairs.select(col("b").as("doc_id"))).distinct()
    val sh = docs(s, d).join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text")).as("ch"),
        shingles(col("text")).as("sh")).sweepPin()
    // id pair → (content, content) pair; the 16 B digests are the join and
    // dedup keys from here on, so every exchange sorts fixed-width keys
    val keyed = pairs
      .join(sh.select(col("doc_id").as("a"), col("ch").as("cha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("ch").as("chb")), "b")
      .sweepPin() // feeds the exact split + the verdict join-back
    // identical content ⇒ identical shingle set ⇒ jaccard exactly 1.0
    // (n/n) — the double the full expression would produce
    val exact = keyed.filter(col("cha") === col("chb"))
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))
    // one representative shingle array per content hash (all arrays under a
    // hash are identical, so first() is value-deterministic), one set-
    // arithmetic row per distinct content pair
    val rep = sh.groupBy(col("ch")).agg(first(col("sh")).as("sh"))
    val verdict = keyed.filter(col("cha") =!= col("chb"))
      .select(col("cha"), col("chb")).distinct()
      .join(rep.select(col("ch").as("cha"), col("sh").as("sh_a")), "cha")
      .join(rep.select(col("ch").as("chb"), col("sh").as("sh_b")), "chb")
      .select(col("cha"), col("chb"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
         size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
    exact.unionAll(
        keyed.filter(col("cha") =!= col("chb"))
          .join(verdict, Seq("cha", "chb"))
          .select(col("a"), col("b"), col("jaccard")))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("a"), col("b"))
  }

  // -------------------------------------------------------------- minhash
  /** MinHash + LSH banding near-dup: 32 hashes, 8 bands × 4 rows — candidate
    * recall ≈ 67% at J=0.6, 89% at J=0.7, 99% at J≥0.8 (1-(1-J^4)^8); misses
    * below that are the LSH trade-off and more hashes buy more recall.
    * Bucket-join candidates, exact-Jaccard verify. The only shuffle of note
    * is the band-bucket exchange of (band_hash, doc_id) — signatures are 32
    * longs per doc regardless of document size. */
  val dedupMinhash: Q = (s, d) =>
    verifyJaccard(s, d, minhashCandidates(s, d), 0.5)

  /** LSH bucket-occupancy histogram: how many (band, hash) buckets hold
    * exactly k documents — the skew audit behind the candidate-pair
    * budget (pairs grow as Σ k·(k−1)/2 over this histogram, so one
    * boilerplate mega-bucket dominates everything; the [[maxBucket]]
    * anchor-star degrade exists precisely for the tail this table
    * makes visible). Output: (bucket_size, n_buckets, over_cap) with
    * singleton buckets included — they are the no-candidate mass that
    * makes LSH cheap. Two aggregates over the map-side band keys; the
    * exchange carries (band, hash) pairs, never text.
    *
    * 100 TB: this is the same first exchange the dedup pipeline itself
    * pays — the histogram is a free byproduct worth materializing on
    * every corpus version. */
  val dedupBucketDist: Q = (s, d) => {
    val sizes = bandKeys(docs(s, d))
      .groupBy(col("bucket")).agg(count(lit(1)).as("bucket_size"))
    sizes.groupBy(col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("bucket_size"), col("n_buckets"),
        (col("bucket_size") > maxBucket).as("over_cap"))
      .orderBy(col("bucket_size"))
  }

  /** Exact-dedup impact accounting per source: how many documents and
    * characters exact dedup (keep the smallest doc_id per content
    * digest) would REMOVE from each source, and the removed share — the
    * ledger a corpus owner reads to see which ingest feed is paying for
    * duplication (a mirror-heavy crawl shows up here before any
    * near-dup pass runs). One digest-keyed window min (the dedup
    * shuffle itself — 16-byte md5 keys, text projected away map-side),
    * one source-bounded aggregate; counts exact, one float division.
    * Non-canonical rows are charged to THEIR source, so a cross-source
    * duplicate debits the copy's feed, not the original's. */
  val dedupImpact: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ch"))
    docs(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("ch"))
      .withColumn("canon", min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("canon"), 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("doc_id") =!= col("canon"), col("n_chars"))
          .otherwise(0L)).as("chars_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("chars_removed"),
        round(col("n_removed").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6).as("removed_share"))
      .orderBy(col("source"))
  }

  /** Hash count of the 1-bit sketch audited by [[dedupMinhash1bit]]. */
  val oneBitK = 32

  /** b-bit MinHash estimator audit (Li & König 2011, b = 1): keep only
    * each minhash's PARITY — 32 bits ≈ 4 bytes per document instead of
    * 32×8 — and estimate Jaccard as Ĵ = (2m − K)/K from the m agreeing
    * bits (a bit agrees with probability J + (1−J)/2). Runs over the
    * materialized LSH candidate pairs with the exact Jaccard beside the
    * estimate and the |error| per pair — the calibration table a dedup
    * owner reads before swapping full signatures for b-bit sketches at
    * 100 TB (64× less signature traffic; the error column says what that
    * buys at which similarity band; negative Ĵ on dissimilar pairs is
    * the estimator's documented behaviour, not a bug). All arithmetic is
    * exact integers until one float division per column, identical
    * formula text in the oracle.
    *
    * 100 TB shape: the parity sketch is one map-side native-expression
    * pass (the [[graft.functions.MinHashSignature]] mins, mod 2); the
    * sketch table semi-joins down to candidate ids BEFORE any pair join,
    * so the agreement count exchanges candidate-pair-bounded rows. */
  val dedupMinhash1bit: Q = (s, d) => {
    val pairs = graft.plans.ArtifactCache.readParquet(s, s"${minhashCandPath(s, d)}/pairs")
      .sweepPin()
    val scored = verifyJaccard(s, d, pairs, 0.0)
    val ids = pairs.select(col("a").as("doc_id"))
      .unionAll(pairs.select(col("b").as("doc_id"))).distinct()
    val bits = docs(s, d).join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        transform(graft.functions.MinHashSignature.minhash_signature(
          shingles(col("text")), oneBitK), v => v % 2).as("bits"))
    val est = (lit(2L) * col("m") - oneBitK).cast(DoubleType) / oneBitK
    scored
      .join(bits.select(col("doc_id").as("a"), col("bits").as("ba")), Seq("a"))
      .join(bits.select(col("doc_id").as("b"), col("bits").as("bb")), Seq("b"))
      .select(col("a"), col("b"), col("jaccard"),
        aggregate(zip_with(col("ba"), col("bb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _).as("m"))
      .select(col("a"), col("b"), col("m"),
        round(col("jaccard"), 6).as("j_exact"),
        round(est, 6).as("j_est_1bit"),
        round(abs(round(est, 6) - round(col("jaccard"), 6)), 6).as("abs_err"))
      .orderBy(col("a"), col("b"))
  }

  /** MinHash-LSH candidate pairs (shared by the Jaccard and edit-distance
    * verifiers): text → 8 band-bucket keys in ONE native map-side
    * expression (shingles → 32 affine mins → per-band PolyHash fold, see
    * [[graft.functions.MinHashBands]]); the signature array never
    * materializes, and the band-bucket exchange is the pipeline's first
    * and only wide shuffle. */
  /** Anchor-star gate scalar: with `keysPerDoc` bucket rows PER DOCUMENT
    * (8 minhash bands, 4 simhash/phash chunks, 1 embedding bucket), the
    * oversized-bucket frame's worst case is keysPerDoc·rows/(maxBucket+1)
    * anchors — so the broadcast is safe only while the corpus sits under
    * (maxBucket+1)/keysPerDoc × cap (integer division floors, which errs
    * in the SAFE direction: the gate flips to shuffle-hash early, never
    * broadcasts an over-sized frame). */
  private[graft] def anchorsSmall(s: SparkSession, d: String, table: String,
      keysPerDoc: Int): Boolean =
    DimGates.smallUnder(s, d, table,
      (((maxBucket + 1) / keysPerDoc).max(1)).toLong)

  private def minhashCandidates(s: SparkSession, d: String): DataFrame =
    candidatePairs(bandKeys(docs(s, d)), anchorsSmall(s, d, "documents", 8))

  /** One (bucket, doc_id) row per LSH band key: text → 8 band-bucket keys in
    * one native map-side expression (32 affine mins folded per band). Shared
    * by the self-join pipeline and the incremental corpus/batch legs so both
    * sides of an incremental join are banded identically. */
  private def bandKeys(df: DataFrame, numHashes: Int = 32, bands: Int = 8): DataFrame =
    df.select(col("doc_id"),
        posexplode(graft.functions.MinHashBands.minhash_bands(
          shingles(col("text")), numHashes, bands)).as(Seq("band", "h")))
      .select(struct(col("band"), col("h")).as("bucket"), col("doc_id"))

  /** Materialized MinHash-LSH candidate set (pipeline-stage output, like
    * [[ngramPairsPath]]): sign the corpus once, let every verifier —
    * Jaccard, edit-distance, future metrics — consume the same candidate
    * artifact instead of re-running the signature stage per metric. */
  private[graft] def minhashCandPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("mh_cand", d, Seq("documents"),
      Seq(DedupOps.getClass, graft.functions.MinHashBands.getClass,
        graft.functions.WordShingles.getClass, graft.functions.PolyHash.getClass,
        graft.functions.BucketMembersAgg.getClass, graft.functions.LongPairs.getClass,
        Tables.getClass)) { dir =>
      minhashCandidates(s, d).write.parquet(s"$dir/pairs")
    }

  /** Thresholds the calibration curve sweeps — the operating points a
    * dedup owner actually debates (0.5 = near-dup floor … 1.0 = exact). */
  val curveThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 1.0)

  /** Jaccard threshold calibration curve: how many verified duplicate
    * pairs survive at each candidate threshold — the plot a pipeline owner
    * reads before choosing the dedup operating point (too low merges
    * near-misses, too high leaks templated dups; the knee is
    * corpus-specific and must be measured, not defaulted). Rides the
    * materialized LSH candidate artifact and ONE exact-verify pass at the
    * 0.5 floor — the same verified (pair, jaccard) table dedup_minhash
    * emits — then counts each threshold's survivors in one
    * pairs×thresholds pass (candidate-pair-bounded, a sliver of the
    * corpus; the 6-row threshold spine broadcasts). Zero-survivor
    * thresholds still emit a row (spine left-join): a disappearing curve
    * point is signal, not absence. */
  val dedupThresholdCurve: Q = (s, d) => {
    val pairs = graft.plans.ArtifactCache.readParquet(s, s"${minhashCandPath(s, d)}/pairs")
    val scored = verifyJaccard(s, d, pairs, curveThresholds.min)
    val spine = s.range(1)
      .select(explode(array(curveThresholds.map(lit(_)): _*)).as("threshold"))
    val counts = scored.select(col("jaccard"))
      .crossJoin(broadcast(spine))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    spine.join(counts, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy(col("threshold"))
  }

  /** Duplicate-cluster size distribution — the number a pipeline owner
    * watches for mega-cluster formation (a size-10⁶ boilerplate cluster is
    * an upstream crawl bug, not data): one row per cluster size with the
    * cluster count and total docs covered. Two bounded aggregates over the
    * resolved cluster labels; output is O(distinct sizes). */
  val dedupClusterStats: Q = (s, d) => {
    // resolved labels are the materialized stage output (ngramClustersPath)
    // — never re-run the CC fixpoint per reporting query
    val clusters = graft.plans.ArtifactCache.readParquet(s, s"${ngramClustersPath(s, d)}/clusters")
    docs(s, d).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .orderBy(col("sz"))
  }

  /** Edit-distance near-dup: the SAME LSH candidate stage as
    * [[dedupMinhash]], but verification is normalized Levenshtein
    * (dist ≤ 30% of the longer text) instead of shingle Jaccard — the
    * right metric when near-dups differ by small in-place edits (OCR
    * noise, template fills) rather than block moves. Levenshtein is
    * O(len²) per pair, which is exactly why it can only ever run on
    * LSH-bucketed candidates, never all pairs; only docs appearing in a
    * candidate pair ship their text (semi-join pushdown). Candidates come
    * from the materialized [[minhashCandPath]] artifact — the second
    * verifier of a signed corpus must not pay the signature stage again. */
  val dedupFuzzy: Q = (s, d) => {
    val pairs = graft.plans.ArtifactCache.readParquet(s, s"${minhashCandPath(s, d)}/pairs")
    val ids = pairs.select(col("a").as("doc_id"))
      .unionAll(pairs.select(col("b").as("doc_id"))).distinct()
    val txt = docs(s, d).join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text")).sweepPin()
    // banded-DP threshold: any pair can pass the filter only with
    // dist ≤ 0.3 · max_len ≤ 0.3 · corpusMaxLen, so capping the DP there
    // (Spark's thresholded levenshtein runs the O(thr·len) band and
    // returns −1 beyond it) is result-identical — a −1 row could never
    // have passed. One O(candidate-texts) max() job prices the cap.
    val corpusMaxLen = txt.agg(max(length(col("text")))).head.get(0) match {
      case null => 0
      case n: Int => n
    }
    val thr = math.max(1, (corpusMaxLen * 3 + 9) / 10)
    val cand = pairs
      .join(txt.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(txt.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      // length-gap prefilter: |len(ta) − len(tb)| lower-bounds the edit
      // distance (each insertion/deletion changes length by 1), so any pair
      // whose length gap alone exceeds the 30% threshold fails WITHOUT
      // running the DP — an O(1) cut on exactly the candidate pairs whose
      // DP is most expensive (LSH-similar prefix, very different lengths).
      // Provably identical result: the dropped pairs could never pass
      // `dist * 10 <= max_len * 3` since dist ≥ the gap.
      .filter(abs(length(col("ta")) - length(col("tb"))).cast(LongType) * 10 <=
        greatest(length(col("ta")), length(col("tb"))).cast(LongType) * 3)
    // exact-copy short-circuit: equal texts are dist 0 by an O(len) compare
    // instead of the O(len²) DP — on a duplicate-heavy corpus (exactly
    // where dedup runs) most candidate pairs ARE exact copies. Result is
    // identical (levenshtein(x, x) = 0), and every exact pair passes the
    // 30% filter trivially.
    val exact = cand.filter(col("ta") === col("tb"))
      .select(col("a"), col("b"), lit(0L).as("dist"),
        greatest(length(col("ta")), length(col("tb"))).cast(LongType).as("max_len"))
    // edit distance depends only on the TEXTS, so the DP runs once per
    // distinct (content, content) pair and the verdict joins back to the
    // id pairs. On duplicate-heavy corpora the id-pair count explodes
    // combinatorially (m copies of each of two near-dup texts → m² id
    // pairs, ONE distinct text pair) — measured on the 2× exact-copy
    // fixture: 2184 DP-needing id pairs collapse to the base 546 text
    // pairs, making DP work flat across the doubling instead of 4×. Keys
    // are md5 digests (16 B) so the dedup exchange sorts fixed-width keys,
    // with the texts collapsing map-side via the partial min().
    val near = cand.filter(col("ta") =!= col("tb"))
      .select(col("a"), col("b"), md5(col("ta")).as("ka"), md5(col("tb")).as("kb"),
        col("ta"), col("tb"))
    val dists = near.groupBy(col("ka"), col("kb"))
      .agg(min(col("ta")).as("ta"), min(col("tb")).as("tb"))
      .select(col("ka"), col("kb"),
        levenshtein(col("ta"), col("tb"), thr).cast(LongType).as("dist"),
        greatest(length(col("ta")), length(col("tb"))).cast(LongType).as("max_len"))
      // dist/max_len ≤ 0.3, exact integers; dist ≥ 0 drops the −1
      // beyond-threshold sentinel (those fail the 30% bound a fortiori)
      .filter(col("dist") >= 0 && col("dist") * 10 <= col("max_len") * 3)
    exact.unionAll(
        near.select(col("a"), col("b"), col("ka"), col("kb"))
          .join(dists, Seq("ka", "kb"))
          .select(col("a"), col("b"), col("dist"), col("max_len")))
      .orderBy(col("a"), col("b"))
  }

  /** Persisted corpus-side MinHash band index for incremental ingest: the
    * standing corpus's (bucket, doc_id) band keys with the skew cut already
    * applied — a corpus-wide boilerplate bucket would pair the whole batch
    * against M corpus docs, so buckets whose corpus side exceeds
    * [[maxBucket]] are dropped AT INDEX-BUILD TIME (once per ingest epoch,
    * not per batch). Cached on the corpus fingerprint like
    * [[ngramPairsPath]]; in production this is the table the previous
    * ingest epoch wrote. */
  private[graft] def corpusIndexPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("mh_corpus_idx", d, Seq("documents"),
      Seq(DedupOps.getClass, graft.functions.MinHashBands.getClass,
        graft.functions.WordShingles.getClass, graft.functions.PolyHash.getClass,
        Tables.getClass)) { dir =>
      // two consumers (self + the bucket-count cut) — materialize the band
      // keys once instead of re-signing the corpus per consumer
      val corpusKeys = bandKeys(docs(s, d).filter(col("source") =!= "src0"))
        .sweepCheckpoint()
      corpusKeys.join(
        corpusKeys.groupBy(col("bucket")).agg(count(lit(1)).as("cn"))
          .filter(col("cn") <= maxBucket).select(col("bucket")), "bucket")
        .write.parquet(s"$dir/keys")
    }

  /** Incremental (batch-vs-corpus) near-dup: documents of source `src0`
    * (standing in for a freshly crawled batch) checked against the REST of
    * the corpus — the ingestion-time shape, where the corpus's band keys
    * are a precomputed index and only the new batch is signed per run. The
    * bucket join is batch-keys × corpus-keys (never corpus × corpus), so
    * per-ingest cost scales with the batch; exact-Jaccard verification runs
    * on cross candidates only. Emits (batch doc, corpus doc, jaccard). */
  val dedupIncremental: Q = (s, d) => {
    // the corpus side is the PERSISTED index ([[corpusIndexPath]], built
    // once per ingest epoch) — a steady-state ingest run signs ONLY the
    // batch; the standing corpus is never re-shingled per batch
    val keptCorpus = graft.plans.ArtifactCache.readParquet(s, s"${corpusIndexPath(s, d)}/keys")
    val batchKeys = bandKeys(docs(s, d).filter(col("source") === "src0"))
    val cand = batchKeys.join(keptCorpus.withColumnRenamed("doc_id", "corpus_id"), "bucket")
      .select(col("doc_id").as("a"), col("corpus_id").as("b"))
      .distinct()
    verifyJaccard(s, d, cand, 0.5)
      .select(col("a").as("batch_id"), col("b").as("corpus_id"), col("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  // -------------------------------------------------------------- simhash
  /** 64-bit SimHash: per word-hash bit votes, sign-aggregated into one long;
    * candidates = pairs sharing ≥1 of 4 16-bit chunks (pigeonhole: any pair
    * within Hamming distance 3 must agree on a full chunk); verified on true
    * Hamming distance via bit_count(xor). */
  /** The three multiplicative rehashes whose low 31 bits supply the 64
    * simhash bit planes (multipliers < 2^32 so `mult * h < 2^63`, ANSI-safe;
    * shared verbatim with the DuckDB oracle). Three mods per word instead of
    * one per BIT — the per-bit-affine-parity formulation costs 128 mod ops
    * per word and measured ~25% slower end-to-end. */
  private[operators] val SimhashRehash: Seq[(Long, Long)] =
    Seq((2654435761L, 0L), (2246822519L, 104729L), (3266489917L, 130363L))

  val dedupSimhash: Q = (s, d) => {
    // per-bit net vote: sum over words of (bit j set ? +1 : -1), with the 64
    // bit planes drawn from the low 31 bits of three large-multiplier
    // rehashes of the word's PolyHash (the raw poly hash's own bits are
    // poorly mixed for short words; the multiply-mod avalanche fixes that).
    // The whole signature — word hashes, rehashes, votes, sign-packing — is
    // ONE native map-side expression ([[graft.functions.SimHash64]]): no
    // word explode, no shuffle, no 64-column aggregate; being pure mod-prime
    // arithmetic, the DuckDB oracle still replays it exactly via the
    // explode + group-by spelling.
    // localCheckpoint: the signature table (16 B/doc) feeds three consumers
    // (banding + both verify joins) — materialize it once instead of
    // rescanning the corpus per consumer.
    val sigs = docs(s, d)
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(split(col("text"), " "), SimhashRehash).as("sim"))
      .sweepPin()
    // 4 16-bit chunk keys as a plain (codegen'd) array of shift/mask
    // expressions — no lambda, no interpreted HOF
    val chunked = sigs.select(col("doc_id"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sim"), c * 16).bitwiseAND(lit(65535L))): _*)).as(Seq("chunk", "h")))
      .select(struct(col("chunk"), col("h")).as("bucket"), col("doc_id"))
    val pairs = candidatePairs(chunked, anchorsSmall(s, d, "documents", 4))
    val sa = sigs.select(col("doc_id").as("a"), col("sim").as("sim_a"))
    val sb = sigs.select(col("doc_id").as("b"), col("sim").as("sim_b"))
    pairs.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("a"), col("b"))
  }

  // ------------------------------------------------- n-gram Jaccard (exact)
  /** Exact n-gram Jaccard dedup via inverted index: fold exact copies into
    * distinct contents, explode each content's shingles, group postings by
    * shingle (df = Σ copy multiplicity), expand each group's rep list into
    * (a < b) content pairs, count per pair, derive Jaccard from set sizes,
    * then expand content pairs back to document pairs.
    *
    * Three scale choices over the naive posting self-join: (0) the content
    * fold — on the corpora dedup exists for, a large share of candidate
    * pairs are exact copies, and m copies of two near-dup texts must cost
    * ONE set comparison, not m²; (1) group on the
    * 64-bit `xxhash64` of the shingle, so the wide shuffle moves 8-byte keys
    * instead of strings (a hash collision needs two distinct shingles of the
    * corpus to collide in 2⁶⁴ — odds ~n²/2⁶⁴, vanishing, and production
    * MinHash stacks hash the shingle anyway); (2) one shuffle of the posting
    * list instead of the self-join's two, with singleton shingles (the vast
    * majority) dropped before any pair is materialized. The per-doc set-size
    * joins are left to AQE: locally the sizes side auto-broadcasts; at scale
    * (a row per document) they become shuffle joins on the already-small
    * candidate-pair set, not on the posting list. */
  val dedupNgramJaccard: Q = (s, d) => ngramJaccard(s, d)

  /** [[dedupNgramJaccard]] with the spec-only `direct` knob (score over the
    * in-plan fold instead of the materialized index artifact). */
  private[graft] def ngramJaccard(s: SparkSession, d: String,
      direct: Boolean = false): DataFrame =
    ngramIndexDedup(s, d, "jaccard",
      crossScore = (i, na, nb) => i.cast(DoubleType) / (na + nb - i),
      sameScore = (i, n) => i.cast(DoubleType) / (lit(2) * n - i),
      keep = _ >= 0.5, direct = direct)

  /** Containment near-dup: |A∩B| / min(|A|, |B|) ≥ 0.8 over the same exact
    * shingle index. Containment is the ASYMMETRIC cousin of Jaccard — a
    * 200-word snippet pasted verbatim into a 5 000-word page scores
    * containment ≈ 1 while its Jaccard is ≈ 0.04 — so this is the variant
    * that catches sub-document duplication (quotes, mirrors with added
    * chrome, template wrappers) which whole-document Jaccard structurally
    * cannot; [[dedupSubstring]] finds the shared SPANS, this op scores the
    * document PAIRS. Same index, same df-cut, same content fold, same
    * 100 TB shape as [[dedupNgramJaccard]] — only the score differs (for
    * exact copies min(|A|,|B|) = |A| = |B| = n, so the same-content score
    * is kept/n). */
  val dedupContainment: Q = (s, d) => ngramContainment(s, d)

  /** [[dedupContainment]] with the spec-only `direct` knob. */
  private[graft] def ngramContainment(s: SparkSession, d: String,
      direct: Boolean = false): DataFrame =
    ngramIndexDedup(s, d, "containment",
      crossScore = (i, na, nb) => i.cast(DoubleType) / least(na, nb),
      sameScore = (i, n) => i.cast(DoubleType) / n,
      keep = _ >= 0.8, direct = direct)

  /** Score-free inverted-index statistics shared by the exact n-gram
    * scoring family ([[dedupNgramJaccard]], [[dedupContainment]]): content
    * fold → df-cut posting lists → bounded pair expansion → per-pair
    * intersection counts with both set sizes, plus the per-content summary
    * the same-content and join-back stages need. Everything score-POLICY
    * specific (Jaccard vs containment vs any future overlap coefficient)
    * happens strictly after these two tables, so they form one pipeline
    * stage computed once per corpus — [[ngramIndexStatsPath]] materializes
    * it pay-once, the same artifact contract as the graph family's packed
    * adjacency — while each scoring policy is a filter+expand over them.
    * Returns (cross, groups):
    *   cross  — (ra, rb, inter, na, nb): candidate content pair (ra < rb),
    *            shared kept-shingle count, both full shingle-set sizes;
    *   groups — (rid, ids, m, n, kept): representative doc id, capped
    *            member-id list, exact copy count, shingle count, and the
    *            content's kept-shingle count (null when m = 1 or no
    *            shingle survived the df window). */
  private[graft] def ngramIndexStats(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // ---- content fold: m exact copies of a text are ONE unit of work ----
    // Group by content hash up front (the dedup_exact pass every curation
    // pipeline runs anyway): each distinct content shingles once, builds
    // posting lists once, and pair-expands once — m copies of two near-dup
    // texts cost ONE content pair, not m². Document frequency keeps copy
    // multiplicity (df = Σ m over the posting list), so results are
    // value-identical to the per-doc spelling and the per-doc DuckDB oracle
    // still replays them. Member ids ride a bounded aggregate (cap+1
    // smallest + exact count): a duplicate class wider than the df-cut can
    // never appear in any output pair (every one of its shingles has
    // df ≥ m > cut), so its truncated id list is never expanded.
    val grp = docs(s, d)
      .groupBy(md5(col("text")).as("ch"))
      .agg(
        graft.functions.BucketMembersAgg.bucket_members(dfCut + 1, col("doc_id")).as("g"),
        min_by(col("text"), col("doc_id")).as("text"))
      .select(element_at(col("g._1"), 1).as("rid"), col("g._1").as("ids"),
        col("g._2").as("m"), shingles(col("text")).as("sh"))
      .sweepPin() // feeds postings, sizes, and both pair expansions
    val sizes = grp.select(col("rid"), size(col("sh")).as("n"))
    // posting lists over DISTINCT contents; df carries copy multiplicity.
    // df-cut: a shingle in M docs emits M²/2 pairs in ONE task, so a single
    // stock phrase at corpus scale is a shuffle bomb. Shingles above the
    // document-frequency cut are dropped before any pair materializes.
    // Honest trade-off: cut shingles leave the intersection count but not
    // the union denominator, so a pair whose similarity rests on
    // corpus-wide boilerplate reads LOW and can fall below threshold — for
    // ordinary text a df>256 shingle moves |A∩B| by 1 against ~50+, noise;
    // a duplicate CLASS wider than the cut shares ALL its shingles above
    // df and is invisible to this exact variant — which is why the LSH
    // variants keep oversized buckets alive via the anchor star
    // ([[candidatePairs]]) and remain the instrument for mega-clusters.
    // The DuckDB oracle applies the identical cut, so the check stays exact.
    val posting = grp
      .select(col("rid"), col("m"), explode(col("sh")).as("shingle"))
      .select(col("rid"), col("m"), xxhash64(col("shingle")).as("shash"))
      .groupBy(col("shash"))
      .agg(sort_array(collect_list(struct(col("rid"), col("m")))).as("reps"),
        sum(col("m")).as("df"))
      .filter(col("df").between(2, dfCut))
      .sweepPin() // feeds cross-content pairs + same-content counts
    // cross-content pairs: native pair expansion (codegen'd, one tight
    // loop) over the ≤ dfCut reps per kept shingle
    val cross = posting
      .select(explode(graft.functions.LongPairs.long_pairs(
        expr("transform(reps, r -> r.rid)"))).as("p"))
      .groupBy(col("p.a").as("ra"), col("p.b").as("rb"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("rid").as("ra"), col("n").as("na")), "ra")
      .join(sizes.select(col("rid").as("rb"), col("n").as("nb")), "rb")
      .select(col("ra"), col("rb"), col("inter"), col("na"), col("nb"))
    // per-content kept-shingle count for the same-content pairs: copies
    // share ALL shingles, so the intersection is the content's kept-shingle
    // count (every shingle of an m ≥ 2 group has df ≥ m ≥ 2 — only the
    // upper cut can drop it) and the union is 2n − kept
    val keptCnt = posting
      .select(explode(col("reps")).as("r"))
      .filter(col("r.m") >= 2)
      .groupBy(col("r.rid").as("rid")).agg(count(lit(1)).as("kept"))
    val groups = grp
      .join(keptCnt, Seq("rid"), "left")
      .join(sizes, "rid")
      .select(col("rid"), col("ids"), col("m"), col("n"), col("kept"))
    (cross, groups)
  }

  /** Pay-once materialization of [[ngramIndexStats]] (pipeline-stage
    * output, like the graph family's packed adjacency): both scoring
    * policies — and, transitively, the [[ngramPairsPath]] cluster-pair
    * artifact — read these two parquet tables instead of re-folding the
    * corpus per query. Keyed on the corpus fingerprint plus the code
    * stamps of every class that defines the fold. */
  /** The ngram_idx artifact's logic stamp list — and, by the
    * transitive-staleness rule, the MINIMUM list of anything derived from
    * it ([[ngramPairsPath]] reads these stats): shared as one constant so
    * no consumer can hand-copy a subset (the r11 ADVICE hole). */
  private[graft] val ngramIdxLogic: Seq[Class[_]] =
    Seq(DedupOps.getClass, graft.functions.WordShingles.getClass,
      graft.functions.LongPairs.getClass,
      graft.functions.BucketMembersAgg.getClass, Tables.getClass)

  private[graft] def ngramIndexStatsPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("ngram_idx", d, Seq("documents"),
      ngramIdxLogic) { dir =>
      val (cross, groups) = ngramIndexStats(s, d)
      cross.write.parquet(s"$dir/cross")
      groups.write.parquet(s"$dir/groups")
    }

  /** The shared scoring stage behind [[dedupNgramJaccard]] and
    * [[dedupContainment]]: apply one overlap-score policy over the
    * pre-computed index statistics and expand content pairs back to
    * document pairs. `crossScore(inter, na, nb)` scores a pair of DISTINCT
    * contents from intersection + full set sizes; `sameScore(inter, n)`
    * scores an exact-copy pair (both sizes n, intersection = the content's
    * kept shingles); `keep` is the threshold predicate, applied to either.
    * `direct = true` (spec instrumentation) scores over the in-plan fold
    * instead of the artifact — results are bit-identical by construction
    * (the artifact is a parquet round-trip of the same frames). */
  private[graft] def ngramIndexDedup(s: SparkSession, d: String, outCol: String,
      crossScore: (Column, Column, Column) => Column,
      sameScore: (Column, Column) => Column,
      keep: Column => Column,
      direct: Boolean = false): DataFrame = {
    val (crossStats, groups) =
      if (direct) ngramIndexStats(s, d)
      else {
        val base = ngramIndexStatsPath(s, d)
        (graft.plans.ArtifactCache.readParquet(s, s"$base/cross"),
          graft.plans.ArtifactCache.readParquet(s, s"$base/groups"))
      }
    val cross = crossStats
      .select(col("ra"), col("rb"),
        crossScore(col("inter"), col("na"), col("nb")).as(outCol))
      .filter(keep(col(outCol)))
    val gids = groups.select(col("rid"), col("ids"))
    val crossIds = cross
      .join(gids.select(col("rid").as("ra"), col("ids").as("ids_a")), "ra")
      .join(gids.select(col("rid").as("rb"), col("ids").as("ids_b")), "rb")
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col(outCol))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col(outCol))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col(outCol))
    val same = groups.filter(col("m").between(2, dfCut) && col("kept").isNotNull)
      .select(col("ids"), sameScore(col("kept"), col("n")).as(outCol))
      .filter(keep(col(outCol)))
      .select(explode(graft.functions.LongPairs.long_pairs(col("ids"))).as("p"),
        col(outCol))
      .select(col("p.a").as("a"), col("p.b").as("b"), col(outCol))
    crossIds.unionAll(same).orderBy(col("a"), col("b"))
  }

  // --------------------------------------------- embedding cosine near-dup
  /** Near-dup by embedding cosine ≥ 0.95: random-hyperplane LSH (16 planes,
    * seeded, driver-generated constants) buckets sign patterns; exact cosine
    * verifies candidates. At 100 TB the bucket join touches only same-bucket
    * pairs; the 16×64 plane matrix broadcasts as literals inside codegen. */
  /** The 16×64 random-hyperplane matrix (seeded, driver-generated constants).
    * Shared between the Spark pipeline and the generated oracle SQL, which
    * inlines these exact values as a VALUES list (Double.toString
    * round-trips). The oracle's dot products use SQL SUM, whose accumulation
    * order is not the Spark fold's — as with ivfOracle, the ~1e-15 jitter
    * only matters if a dot product sits within rounding distance of the
    * bucket-sign boundary or a cosine within 5e-7 of a round-half step;
    * Gaussian planes against unit-ish embeddings keep both astronomically
    * unlikely, and a mismatch reads as a check failure, not silent
    * corruption. */
  private[graft] val Hyperplanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(16, 64)(rnd.nextGaussian())
  }

  val dedupEmbedding: Q = (s, d) => {
    val hp = Hyperplanes
    val planes = hp.length
    val emb = Tables.load(s, d, "embeddings")
    def dot(v: Column, plane: Array[Double]): Column =
      aggregate(zip_with(v, typedLit(plane.toSeq), (x, w) => x * w), lit(0.0), (a, x) => a + x)
    val bucketBits = (0 until planes).map(p =>
      when(dot(col("embedding").cast(ArrayType(DoubleType)), hp(p)) >= 0, 1L << p).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    val bucketed = emb.select(col("vec_id").as("doc_id"), bucketBits.as("bucket"))
    val pairs = candidatePairs(bucketed, anchorsSmall(s, d, "embeddings", 1))
    val vecs = emb.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
    def cosine(a: Column, b: Column): Column = {
      val dotp = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s1, x) => s1 + x)
      val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (s1, x) => s1 + x))
      val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (s1, x) => s1 + x))
      dotp / (na * nb)
    }
    // Per-document nearest-neighbor verdict rather than a bare ≥τ pair list:
    // every document reports its closest same-bucket candidate and whether
    // that crosses the dup threshold, so the result is non-degenerate even on
    // corpora with no near-dups (the driver's synthetic embeddings top out
    // near cosine 0.6) while the ≥τ rows are exactly the near-dup pairs.
    val scored = pairs
      .join(vecs.select(col("vec_id").as("a"), col("v").as("va")), "a")
      .join(vecs.select(col("vec_id").as("b"), col("v").as("vb")), "b")
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 6).as("cosine"))
    // arg-max per doc via one hash aggregate over struct ordering — max on
    // (cosine, -nn_id) IS "cosine desc, nn_id asc" without the sort+window
    // pass over all candidate pairs (the r2 regression)
    val sym = scored.select(col("a").as("doc_id"), col("b").as("nn_id"), col("cosine"))
      .unionAll(scored.select(col("b").as("doc_id"), col("a").as("nn_id"), col("cosine")))
    val best = sym.groupBy(col("doc_id"))
      .agg(max(struct(col("cosine"), (-col("nn_id")).as("neg_nn"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_nn")).as("nn_id"), col("m.cosine").as("cosine"))
    emb.select(col("vec_id").as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nn_id"), col("cosine"),
        coalesce(col("cosine") >= 0.95, lit(false)).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------- cluster resolution (CC)
  /** Duplicate-cluster resolution: connected components over the near-dup
    * pair graph via min-label propagation, yielding one canonical keeper per
    * cluster (transitive closure — pairwise output alone can't decide
    * A~B, B~C ⇒ keep one of {A,B,C}).
    *
    * Iterative Spark done right: the loop runs only over nodes that appear
    * in some near-dup pair — isolated documents (the overwhelming majority
    * at any scale) are their own cluster by definition and never enter an
    * iteration, so each round's join + aggregate touches O(|edges|) rows,
    * not O(|corpus|). Labels converge in O(log n) rounds; the driver loops
    * control flow only — never data. Each round is a single action: a lazy
    * `localCheckpoint` (lineage truncation, the classic guard against
    * iterative-plan blowup) materialized by the changed-label count that
    * doubles as the convergence test. Built on the exact-Jaccard pairs so
    * the whole pipeline — pairs AND clustering — is DuckDB-oracle-checkable
    * (recursive CTE).
    */
  /** Build-or-reuse the materialized near-dup pair set (pipeline-stage
    * output; the cache key includes this class's code stamp, so recompiling
    * the pair logic invalidates cached pairs). */
  private[graft] def ngramPairsPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("ngram_pairs", d, Seq("documents"),
      // derived from the ngram_idx stats ⇒ stamps [[ngramIdxLogic]]
      // (transitive-staleness rule)
      ngramIdxLogic) { dir =>
      dedupNgramJaccard(s, d).select(col("a"), col("b")).write.parquet(s"$dir/pairs")
    }

  /** RESOLVED cluster labels as a pay-once artifact: the min-label CC
    * fixpoint ([[resolveClusters]]) over the materialized near-dup pair
    * set, (doc_id, lbl) for every doc appearing in a pair. The round-13
    * re-derivation audit found three queries (`dedup_clusters`,
    * `dedup_cluster_stats`, `dedup_keep_best`) each re-running the whole
    * O(log n) iterative loop — per-round joins, convergence counts,
    * driver round-trips — over the SAME pair artifact per query (the
    * r12 `graph_degree` class: re-folding a frame a pipeline stage
    * already owns). In production the keep-list IS a standing stage
    * output (written once per dedup epoch, consumed by reporting,
    * keep-rules, and the join-back); here it rides the same
    * corpus-fingerprint cache as its input. Stamps [[ngramIdxLogic]]
    * transitively ([[resolveClusters]] lives in this class, whose code
    * stamp is in the list). */
  private[graft] def ngramClustersPath(s: SparkSession, d: String): String =
    graft.plans.ArtifactCache.getOrBuild("ngram_clusters", d, Seq("documents"),
      ngramIdxLogic) { dir =>
      resolveClusters(graft.plans.ArtifactCache.readParquet(s, s"${ngramPairsPath(s, d)}/pairs"))
        .write.parquet(s"$dir/clusters")
    }

  private def ccCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    graft.plans.Checkpoints.sweep(df, eager)

  val dedupClusters: Q = (s, d) => {
    // the RESOLVED cluster labels are the previous pipeline stage's output
    // ([[ngramClustersPath]]); production materializes them once per dedup
    // epoch, so they live in the artifact cache keyed on the corpus
    // fingerprint (first call builds, later calls — any JVM — reuse)
    val clusters = graft.plans.ArtifactCache.readParquet(s, s"${ngramClustersPath(s, d)}/clusters")
    docs(s, d).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Cluster resolution with a QUALITY keep-rule: instead of "keep the
    * smallest doc_id" ([[dedupClusters]]), keep each duplicate cluster's
    * LONGEST member (n_chars, ties to the smaller id) — the rule real
    * curation pipelines use, since near-dup clusters usually contain one
    * full document plus truncated/boilerplate variants. Same cluster
    * labels; the keep decision is a per-cluster window rank. Clusters are
    * tiny (bounded by the candidate caps) and singletons dominate any real
    * corpus, so the rank's per-key sort is O(cluster size) — one shuffle
    * on cluster_id. */
  val dedupKeepBest: Q = (s, d) => {
    val clusters = graft.plans.ArtifactCache.readParquet(s, s"${ngramClustersPath(s, d)}/clusters")
    val clustered = docs(s, d).select(col("doc_id"), col("n_chars"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    val best = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clustered
      .select(col("doc_id"), col("cluster_id"),
        (row_number().over(best) === 1).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** LSH self-audit: recall of the MinHash-LSH candidate stage against the
    * exact inverted-index pair set at the same Jaccard threshold — THE
    * number a pipeline owner watches when tuning bands × rows (8×4 here:
    * recall ≈ 1-(1-J⁴)⁸). Both sides come from materialized stage artifacts
    * ([[ngramPairsPath]], [[minhashCandPath]]); the audit itself is a
    * semi-join + one global count — at 100 TB the audit typically runs on
    * a sampled stratum, but its shape is unchanged. Output: one row,
    * exact/LSH/overlap counts and the recall fraction (one division). */
  val dedupLshRecall: Q = (s, d) => {
    val exact = graft.plans.ArtifactCache.readParquet(s, s"${ngramPairsPath(s, d)}/pairs")
    val cand = graft.plans.ArtifactCache.readParquet(s, s"${minhashCandPath(s, d)}/pairs")
    val found = exact.join(cand, Seq("a", "b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact")).crossJoin(
        cand.agg(count(lit(1)).as("n_lsh_cand")).crossJoin(
          found.agg(count(lit(1)).as("n_found"))))
      .select(col("n_exact"), col("n_lsh_cand"), col("n_found"),
        (col("n_found").cast(DoubleType) / col("n_exact")).as("recall"))
  }

  /** Duplication source matrix: verified near-dup pair counts by
    * (source_a, source_b) — the cross-snapshot contamination report
    * ("how much of crawl B duplicates crawl A"). Pairs come from the
    * materialized stage artifact; two broadcast-friendly dimension joins
    * tag the sources (the pair set is always a sliver of the corpus);
    * sources ordered within the pair so (x,y) and (y,x) accumulate in one
    * cell. */
  val dedupSourceMatrix: Q = (s, d) => {
    val pairs = graft.plans.ArtifactCache.readParquet(s, s"${ngramPairsPath(s, d)}/pairs")
    val src = docs(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  /** Min-label connected components over a (a, b) pair set: returns
    * (doc_id, lbl) for every doc appearing in a pair, lbl = the component's
    * smallest doc_id. Exposed for direct spec coverage (long-chain
    * convergence) — [[dedupClusters]] wraps it with the isolated-doc
    * rejoin. */
  private[graft] def resolveClusters(pairs: DataFrame): DataFrame = {
    val edges = ccCheckpoint(pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"))))
    var labels = ccCheckpoint(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl")))
    // the pinned frame backing `labels` (after round 1, labels is a
    // projection over the round's `next` pin) — the graphComponentsImpl
    // release convention
    var labelsBacking = labels
    var converged = false
    var iter = 0
    // min-propagation alone needs DIAMETER rounds (a 64-hop dup chain = 64
    // rounds); the pointer-jump below (follow your label's label) doubles
    // the reach each round, so convergence is O(log diameter) and 64 rounds
    // covers any component a real corpus can produce. Fail loudly beyond.
    val maxIters = 64
    while (!converged && iter < maxIters) {
      iter += 1
      val neighborMin = edges
        .join(labels, col("src") === col("doc_id"))
        .groupBy(col("dst"))
        .agg(min(col("lbl")).as("nmin"))
      // propagate: label ← min over self + neighbors' labels
      val prop = ccCheckpoint(labels
        .join(neighborMin, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl")))
      // jump: label ← label's own label (labels are doc_ids, every one has a
      // row, so the self-join resolves one extra hop — the doubling step)
      val next = ccCheckpoint(prop
        .join(prop.select(col("doc_id").as("j_id"), col("lbl").as("j_lbl")),
          col("lbl") === col("j_id"), "left")
        .select(col("doc_id"), col("old"),
          least(col("lbl"), coalesce(col("j_lbl"), col("lbl"))).as("lbl")),
        eager = false)
      converged = next.filter(col("lbl") =!= col("old")).count() == 0 // materializes the checkpoint
      // the FULL count above materialized every partition of the lazy
      // `next` pin (and its local-checkpoint truncation completed inside
      // the count's runJob), so this round's propagate pin and the
      // previous round's state pin are both dead — release them
      // ([[graft.plans.Checkpoints.release]]; live pins stay O(1) in the
      // round count instead of O(rounds))
      graft.plans.Checkpoints.release(prop)
      graft.plans.Checkpoints.release(labelsBacking)
      labelsBacking = next
      labels = next.select(col("doc_id"), col("lbl"))
    }
    // wrong clusters are worse than no clusters: never return unconverged
    // labels silently
    require(converged, s"dedup_clusters did not converge within $maxIters rounds")
    // the returned projection reads only the final round's pin — the
    // edge pin fed its last probe in the round that just converged
    graft.plans.Checkpoints.release(edges)
    labels.select(col("doc_id"), col("lbl"))
  }

  // --------------------------------------------------- substring dedup
  /** Token length of the repeated-span detection window: a span must cover
    * at least this many tokens (one full shingle) to be reported. */
  val substringK = 8

  /** Exact substring dedup — cross-document repeated-span detection, the
    * suffix-array-style curation op of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") re-expressed as a
    * shingle inverted index: a 200-token license header repeated inside
    * otherwise-distinct documents is invisible to whole-document near-dup
    * (minhash/simhash) but lights up here as a maximal repeated span.
    *
    * Shape: (0) exact copies fold to one distinct content each (rep
    * pipeline + span join-back — copies never re-hash); (1) one map-side
    * pass emits ([[substringK]]-token window, position) per token with the
    * window PolyHash'd to an int64 — the shuffle never carries shingle
    * text; (2) one aggregate computes each window-hash's document frequency
    * (copy multiplicity included) and keeps hashes seen in ≥2 docs
    * (vocabulary-sized, like the [[dedupNgramJaccard]] df-cut); (3) matched
    * positions merge into maximal spans per document by interval merge
    * (gaps-and-islands over consecutive token positions — the
    * [[graft.streaming.Sessionize]] trick, here as `pos − row_number`).
    * Never all-pairs: cost is O(total tokens) map-side + one int64-keyed
    * shuffle + a per-document window sort; a span shared by a million docs
    * costs one df row and a million interval rows, not 10¹² pairs.
    *
    * Output: (doc_id, span_start, span_len, n_docs) per maximal repeated
    * span occurrence — positions are 1-based token indices; `n_docs` is the
    * MINIMUM window document-frequency across the span (every token window
    * inside the span appears in at least `n_docs` documents; the span as a
    * whole appears in at most that many).
    *
    * The reference has no analog (its core delegates SQL verbatim,
    * internal/core/core.go:496) — this ranks on curation impact, not
    * parity. */
  val dedupSubstring: Q = (s, d) => {
    val k = substringK
    // content fold (as in [[dedupNgramJaccard]]): exact copies share every
    // window at every position, so the hash/df/interval-merge pipeline runs
    // once per DISTINCT content and the finished spans join back to the
    // copies. Document frequency keeps copy multiplicity (df = Σ m), so
    // results are value-identical to the per-doc spelling and the per-doc
    // oracle still replays them. Unlike the pair ops there is no bucket
    // cap: output is per-document (linear), so a mega duplicate class costs
    // one rep pipeline + linear join-back rows, never a collected id list.
    val grp = docs(s, d)
      .groupBy(md5(col("text")).as("ch"))
      .agg(min(col("doc_id")).as("rid"), count(lit(1)).as("m"),
        min_by(col("text"), col("doc_id")).as("text"))
      .sweepPin() // feeds the rep pipeline + the membership join
    val membership = docs(s, d)
      .select(col("doc_id"), md5(col("text")).as("ch"))
      .join(grp.select(col("ch"), col("rid")), "ch")
      .select(col("doc_id"), col("rid"))
    val tok = grp
      .select(col("rid"), col("m"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
    // (rid, m, pos, h): h = polynomial fold of the k word-hashes starting
    // at pos. Each WORD hashes once (PolyHash over its characters); a
    // window key is then 8 long multiply-mods over the precomputed word
    // hashes — O(tokens·k) integer ops total instead of re-decoding ~50
    // characters per window position. Only fixed-width long rows ever
    // shuffle. Fold stays overflow-free: acc < P < 2³¹, B ≈ 2²⁰ ⇒
    // acc·B + h < 2⁵², ANSI-safe in both engines.
    val B = graft.functions.PolyHash.B
    val P = graft.functions.PolyHash.P
    val sh = tok
      .select(col("rid"), col("m"),
        transform(col("w"), w => graft.functions.PolyHash.poly_hash(w)).as("wh"))
      .select(col("rid"), col("m"), explode(transform(
        sequence(lit(1), size(col("wh")) - (k - 1)),
        i => struct(i.cast(LongType).as("pos"),
          aggregate(slice(col("wh"), i, lit(k)), lit(0L),
            (a, h) => pmod(a * lit(B) + h, lit(P))).as("h")))).as("sp"))
      .select(col("rid"), col("m"), col("sp.pos").as("pos"), col("sp.h").as("h"))
      // two consumers (df aggregate + match join) — materialize the
      // fixed-width position frame once instead of re-exploding per consumer
      .sweepPin()
    // window-hash document frequency (copies included via m), kept only for
    // cross-doc repeats
    val dfq = sh.select(col("rid"), col("m"), col("h")).distinct()
      .groupBy(col("h")).agg(sum(col("m")).as("df"))
      .filter(col("df") >= 2)
    // interval merge: consecutive matched positions collapse into one
    // maximal span (pos − row_number is constant within a run)
    val w = Window.partitionBy(col("rid")).orderBy(col("pos"))
    sh.join(dfq, "h")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("rid"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).as("span_len"),
        min(col("df")).as("n_docs"))
      .join(membership, "rid")
      .select(col("doc_id"), col("span_start"), col("span_len"), col("n_docs"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Bloom-filter bits for [[dedupBloomPrefilter]]: 2^20 bits as 2^15
    * bit_or-aggregated words (32 bits used per 8-byte word: DuckDB's `<<`
    * overflow-checks bit 63, so both engines shift at most 31). At 100 TB size M ∝ corpus (billions of
    * docs → GBs of bits): the filter lives as a (word → bits) TABLE, so
    * probing stays a plain join — broadcast while the filter is small,
    * ordinary shuffle join when it outgrows broadcast reach; nothing in
    * the spelling changes. */
  val bloomBits = 1 << 20
  val bloomHashes = 4

  /** Bloom-filter ingest prefilter — the cheap membership gate a corpus
    * ingest runs BEFORE the exact/near dedup machinery: build a Bloom
    * filter over the corpus' content hashes (k=[[bloomHashes]] affine
    * rehashes into [[bloomBits]] bits, aggregated with `bit_or` into
    * 8-byte words — one narrow shuffle of (word, mask) pairs), then probe
    * each incoming batch document; only "maybe present" docs proceed to
    * the expensive verify. No false negatives by construction; the false-
    * positive rate is AUDITED in-query against exact content-hash
    * membership (the [[dedupLshRecall]] self-validation pattern). All
    * integer arithmetic (PolyHash + affine + mod/shift), so the DuckDB
    * oracle replays filter construction, probing, and the audit exactly.
    *
    * Corpus = doc_id % 10 ≠ 0, batch = doc_id % 7 = 0 — overlapping by
    * construction, so the audit sees true dups AND fresh docs. */
  /** (doc_id, h) content hashes — input to both the batch prefilter and
    * its streaming twin. */
  private[graft] def contentHashes(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.functions.PolyHash.poly_hash(col("text")).as("h"))

  /** The k bloom bit positions of a content-hash column. */
  private[graft] def bloomPositions(h: Column): Column =
    array((0 until bloomHashes).map(t =>
      graft.functions.PolyHash.affine(t, h) % lit(bloomBits.toLong)): _*)

  /** Corpus predicate / incoming-batch predicate (overlapping by
    * construction so the audit sees true dups AND fresh docs). */
  private[graft] def bloomCorpusPred: Column = col("doc_id") % 10 =!= 0
  private[graft] def bloomBatchPred: Column = col("doc_id") % 7 === 0

  /** The (word → bits) bloom table over the corpus content hashes. */
  private[graft] def bloomTable(s: SparkSession, d: String): DataFrame =
    contentHashes(s, d).filter(bloomCorpusPred)
      .select(explode(bloomPositions(col("h"))).as("pos"))
      .select(expr("pos DIV 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))

  /** Reduce per-doc (maybe, is_dup) verdicts to the one-row audit report. */
  private[graft] def bloomStats(verdicts: DataFrame): DataFrame =
    verdicts.agg(
        count(lit(1)).as("n_batch"),
        count(when(col("maybe"), lit(1))).as("n_maybe"),
        count(when(col("is_dup"), lit(1))).as("n_exact_dup"),
        count(when(col("maybe") && !col("is_dup"), lit(1))).as("n_false_pos"))
      .select(col("n_batch"), col("n_maybe"), col("n_exact_dup"), col("n_false_pos"),
        round(col("n_false_pos").cast(DoubleType) /
          greatest(col("n_batch") - col("n_exact_dup"), lit(1L)).cast(DoubleType), 6)
          .as("fp_rate"))

  /** Tag per-doc probe verdicts with exact corpus membership (the audit's
    * ground truth). */
  private[graft] def bloomWithExact(s: SparkSession, d: String,
      probed: DataFrame): DataFrame =
    probed
      .join(contentHashes(s, d).filter(bloomCorpusPred).select(col("h"))
        .distinct().withColumn("is_dup", lit(true)), Seq("h"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))

  val dedupBloomPrefilter: Q = (s, d) => {
    val batch = contentHashes(s, d).filter(bloomBatchPred)
    val probed = batch
      .select(col("doc_id"), col("h"), explode(bloomPositions(col("h"))).as("pos"))
      .withColumn("word", expr("pos DIV 32"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
      .join(broadcast(bloomTable(s, d)), Seq("word"), "left")
      .withColumn("hit", col("bits").isNotNull &&
        (col("bits").bitwiseAND(col("mask")) =!= 0))
      .groupBy(col("doc_id"), col("h"))
      .agg(expr("bool_and(hit)").as("maybe"))
    bloomStats(bloomWithExact(s, d, probed))
  }

  val queries: Map[String, Q] = Map(
    "dedup_bloom_prefilter" -> dedupBloomPrefilter,
    "dedup_exact" -> dedupExact,
    "dedup_substring" -> dedupSubstring,
    "dedup_clusters" -> dedupClusters,
    "dedup_cluster_stats" -> dedupClusterStats,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_fuzzy" -> dedupFuzzy,
    "dedup_lsh_recall" -> dedupLshRecall,
    "dedup_source_matrix" -> dedupSourceMatrix,
    "dedup_minhash" -> dedupMinhash,
    "dedup_minhash_1bit" -> dedupMinhash1bit,
    "dedup_impact" -> dedupImpact,
    "dedup_bucket_dist" -> dedupBucketDist,
    "dedup_threshold_curve" -> dedupThresholdCurve,
    "dedup_incremental" -> dedupIncremental,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_embedding" -> dedupEmbedding,
  )

  // ------------------------------------------------------------- oracles
  // Every near-dup pipeline below is pure mod-prime arithmetic end to end
  // (PolyHash + affine rehashes + fold band keys / seeded hyperplane
  // constants), so the DuckDB oracle replays the WHOLE pipeline in SQL —
  // signatures, bucketing, candidate caps, and exact verification — the
  // pattern proven by SimilarityOps.ivfOracle.

  /** Shared shingle/posting/sizes CTE bodies (DuckDB replay of
    * [[graft.functions.WordShingles]] word 3-grams + whole-text fallback). */
  private val shingleCtes: String =
    """sh AS (
         SELECT doc_id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
                            FOR i IN range(1, len(string_split(text,' ')) - 1)])
           ELSE [text] END AS s
         FROM documents),
       posting AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       sizes AS (SELECT doc_id, len(s) AS n FROM sh)"""

  /** Verified pairs → symmetric edges → min-label components (recursive
    * CTE), shared by the cluster-resolution oracles. `cc` maps every doc
    * (incl. singletons) to its component's smallest doc_id. */
  private val clusterCtes: String =
    """pairs AS (
         SELECT a, b FROM inter
         JOIN sizes na ON inter.a = na.doc_id
         JOIN sizes nb ON inter.b = nb.doc_id
         WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5),
       edges AS (SELECT a AS src, b AS dst FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
       cc AS (
         WITH RECURSIVE walk(doc, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.doc = e.src
         )
         SELECT doc, MIN(lbl) AS cluster_id FROM walk GROUP BY doc)"""

  /** Inverted-index intersection with the same df-cut as the Spark side. */
  private val ngramInterCtes: String =
    s"""kept AS (SELECT shingle FROM posting
                 GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND $dfCut),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM posting x JOIN posting y
            ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          JOIN kept k ON k.shingle = x.shingle
          GROUP BY x.doc_id, y.doc_id)"""

  /** MinHash signature → LSH band hashes (ends at `band`) — the DuckDB
    * replay of [[graft.functions.MinHashBands]]; also consumed standalone by
    * the streaming near-dedup oracle. */
  private[graft] def bandCtes: String = {
    import graft.functions.PolyHash
    s"""ph AS (SELECT doc_id, ${PolyHash.duckSql("shingle")} AS ph FROM posting),
       sig AS (SELECT doc_id, i, MIN(${PolyHash.affineSql("i", "ph")}) AS h
               FROM ph CROSS JOIN (SELECT unnest(range(0, 32)) AS i) seeds
               GROUP BY doc_id, i),
       band AS (SELECT doc_id, i // 4 AS band,
                  list_reduce(list_prepend(0::BIGINT, list(h ORDER BY i)),
                    (a, h) -> (a * ${PolyHash.B} + h) % ${PolyHash.P}) AS bh
                FROM sig GROUP BY doc_id, i // 4)"""
  }

  /** Shared shingle CTE bodies, exported for oracles composed outside this
    * file (the streaming near-dedup). */
  private[graft] def shingleCtesShared: String = shingleCtes

  /** MinHash signature → LSH bands → capped candidate CTEs (ends at `cand`),
    * shared by the Jaccard and edit-distance verifiers. */
  private def minhashCandCtes: String = {
    s"""$bandCtes,
       bsize AS (SELECT band, bh, COUNT(*) AS n, MIN(doc_id) AS anchor
                 FROM band GROUP BY band, bh),
       cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
                JOIN bsize s ON s.band = x.band AND s.bh = x.bh
                WHERE s.n BETWEEN 2 AND $maxBucket
                UNION
                SELECT s.anchor AS a, m.doc_id AS b
                FROM band m JOIN bsize s ON s.band = m.band AND s.bh = m.bh
                WHERE s.n > $maxBucket AND m.doc_id <> s.anchor)"""
  }

  private def minhashOracle: String =
    s"""WITH $shingleCtes,
       $minhashCandCtes,
       inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
                 FROM posting x JOIN posting y
                   ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                 JOIN cand c ON c.a = x.doc_id AND c.b = y.doc_id
                 GROUP BY x.doc_id, y.doc_id)
       SELECT inter.a, inter.b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
       FROM inter JOIN sizes na ON inter.a = na.doc_id
                  JOIN sizes nb ON inter.b = nb.doc_id
       WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
       ORDER BY a, b"""

  private def minhash1bitOracle: String =
    s"""WITH $shingleCtes,
       $minhashCandCtes,
       bits AS (SELECT doc_id, i, h % 2 AS bit FROM sig),
       agree AS (
         SELECT c.a, c.b,
           CAST(SUM(CASE WHEN x.bit = y.bit THEN 1 ELSE 0 END) AS BIGINT)
             AS m
         FROM cand c
         JOIN bits x ON x.doc_id = c.a
         JOIN bits y ON y.doc_id = c.b AND y.i = x.i
         GROUP BY c.a, c.b),
       inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
                 FROM posting x JOIN posting y
                   ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                 JOIN cand c ON c.a = x.doc_id AND c.b = y.doc_id
                 GROUP BY x.doc_id, y.doc_id),
       jac AS (
         SELECT c.a, c.b,
           round(CAST(COALESCE(i, 0) AS DOUBLE) /
             (na.n + nb.n - COALESCE(i, 0)), 6) AS j_exact
         FROM cand c
         LEFT JOIN inter ON inter.a = c.a AND inter.b = c.b
         JOIN sizes na ON c.a = na.doc_id
         JOIN sizes nb ON c.b = nb.doc_id)
       SELECT j.a, j.b, g.m, j.j_exact,
         round(CAST(2 * g.m - $oneBitK AS DOUBLE) / $oneBitK, 6)
           AS j_est_1bit,
         round(abs(round(CAST(2 * g.m - $oneBitK AS DOUBLE) / $oneBitK, 6)
           - j.j_exact), 6) AS abs_err
       FROM jac j JOIN agree g ON g.a = j.a AND g.b = j.b
       ORDER BY j.a, j.b"""

  private def thresholdCurveOracle: String = {
    val values = curveThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH $shingleCtes,
       $minhashCandCtes,
       inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
                 FROM posting x JOIN posting y
                   ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                 JOIN cand c ON c.a = x.doc_id AND c.b = y.doc_id
                 GROUP BY x.doc_id, y.doc_id),
       scored AS (
         SELECT CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
         FROM inter JOIN sizes na ON inter.a = na.doc_id
                    JOIN sizes nb ON inter.b = nb.doc_id
         WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= ${curveThresholds.min})
       SELECT CAST(t.threshold AS DOUBLE) AS threshold,
              CAST(COUNT(s.jaccard) AS BIGINT) AS n_pairs
       FROM (VALUES $values) t(threshold)
       LEFT JOIN scored s ON s.jaccard >= t.threshold
       GROUP BY t.threshold ORDER BY t.threshold"""
  }

  private def lshRecallOracle: String =
    s"""WITH $shingleCtes,
       $ngramInterCtes,
       exact AS (
         SELECT inter.a, inter.b FROM inter
         JOIN sizes na ON inter.a = na.doc_id
         JOIN sizes nb ON inter.b = nb.doc_id
         WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5),
       $minhashCandCtes,
       counts AS (
         SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
                (SELECT COUNT(*) FROM cand) AS n_lsh_cand,
                (SELECT COUNT(*) FROM exact e
                 JOIN cand c ON e.a = c.a AND e.b = c.b) AS n_found)
       SELECT n_exact, n_lsh_cand, n_found,
         CAST(n_found AS DOUBLE) / n_exact AS recall
       FROM counts"""

  private def sourceMatrixOracle: String =
    s"""WITH $shingleCtes,
       $ngramInterCtes,
       vpairs AS (
         SELECT inter.a, inter.b FROM inter
         JOIN sizes na ON inter.a = na.doc_id
         JOIN sizes nb ON inter.b = nb.doc_id
         WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5)
       SELECT least(da.source, db.source) AS source_lo,
              greatest(da.source, db.source) AS source_hi,
              COUNT(*) AS n_pairs
       FROM vpairs p
       JOIN documents da ON da.doc_id = p.a
       JOIN documents db ON db.doc_id = p.b
       GROUP BY 1, 2 ORDER BY 1, 2"""

  private def fuzzyOracle: String =
    s"""WITH $shingleCtes,
       $minhashCandCtes
       SELECT c.a, c.b,
         CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
         CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len
       FROM cand c
       JOIN documents da ON da.doc_id = c.a
       JOIN documents db ON db.doc_id = c.b
       WHERE levenshtein(da.text, db.text) * 10 <=
             greatest(length(da.text), length(db.text)) * 3
       ORDER BY c.a, c.b"""

  private def incrementalOracle: String = {
    import graft.functions.PolyHash
    s"""WITH sh AS (
         SELECT doc_id, source,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
                            FOR i IN range(1, len(string_split(text,' ')) - 1)])
           ELSE [text] END AS s
         FROM documents),
       posting AS (SELECT doc_id, source, unnest(s) AS shingle FROM sh),
       sizes AS (SELECT doc_id, len(s) AS n FROM sh),
       ph AS (SELECT doc_id, source, ${PolyHash.duckSql("shingle")} AS ph FROM posting),
       sig AS (SELECT doc_id, source, i, MIN(${PolyHash.affineSql("i", "ph")}) AS h
               FROM ph CROSS JOIN (SELECT unnest(range(0, 32)) AS i) seeds
               GROUP BY doc_id, source, i),
       band AS (SELECT doc_id, source, i // 4 AS band,
                  list_reduce(list_prepend(0::BIGINT, list(h ORDER BY i)),
                    (a, h) -> (a * ${PolyHash.B} + h) % ${PolyHash.P}) AS bh
                FROM sig GROUP BY doc_id, source, i // 4),
       corpus AS (SELECT band, bh, doc_id FROM band WHERE source <> 'src0'),
       ccount AS (SELECT band, bh, COUNT(*) AS cn FROM corpus GROUP BY band, bh),
       batch AS (SELECT band, bh, doc_id FROM band WHERE source = 'src0'),
       cand AS (SELECT DISTINCT b.doc_id AS a, c.doc_id AS b
                FROM batch b JOIN corpus c ON b.band = c.band AND b.bh = c.bh
                JOIN ccount n ON n.band = b.band AND n.bh = b.bh
                WHERE n.cn <= $maxBucket),
       inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
                 FROM posting x JOIN posting y ON x.shingle = y.shingle
                 JOIN cand c ON c.a = x.doc_id AND c.b = y.doc_id
                 GROUP BY x.doc_id, y.doc_id)
       SELECT inter.a AS batch_id, inter.b AS corpus_id,
              CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
       FROM inter JOIN sizes na ON inter.a = na.doc_id
                  JOIN sizes nb ON inter.b = nb.doc_id
       WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
       ORDER BY batch_id, corpus_id"""
  }

  private def simhashOracle: String = {
    import graft.functions.PolyHash
    val Seq((a0, b0), (a1, b1), (a2, b2)) = SimhashRehash
    s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
       wh AS (SELECT doc_id, ${PolyHash.duckSql("w")} AS h FROM words),
       wm AS (SELECT doc_id,
                ($a0 * h + $b0) % ${PolyHash.P} AS m0,
                ($a1 * h + $b1) % ${PolyHash.P} AS m1,
                ($a2 * h + $b2) % ${PolyHash.P} AS m2
              FROM wh),
       bits AS (SELECT doc_id, j,
                  CASE WHEN SUM(CASE WHEN
                    ((CASE WHEN j < 31 THEN m0 >> j
                           WHEN j < 62 THEN m1 >> (j - 31)
                           ELSE m2 >> (j - 62) END) & 1) = 1
                                     THEN 1 ELSE -1 END) > 0
                       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
                FROM wm CROSS JOIN (SELECT unnest(range(0, 64)) AS j) bitsrc
                GROUP BY doc_id, j),
       chunks AS (SELECT doc_id, j // 16 AS chunk,
                    (SUM(bit << (j % 16)))::BIGINT AS h
                  FROM bits GROUP BY doc_id, j // 16),
       docsig AS (SELECT doc_id,
                    MAX(CASE WHEN chunk = 0 THEN h END) AS c0,
                    MAX(CASE WHEN chunk = 1 THEN h END) AS c1,
                    MAX(CASE WHEN chunk = 2 THEN h END) AS c2,
                    MAX(CASE WHEN chunk = 3 THEN h END) AS c3
                  FROM chunks GROUP BY doc_id),
       bsize AS (SELECT chunk, h, COUNT(*) AS n, MIN(doc_id) AS anchor
                 FROM chunks GROUP BY chunk, h),
       cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM chunks x JOIN chunks y
                  ON x.chunk = y.chunk AND x.h = y.h AND x.doc_id < y.doc_id
                JOIN bsize s ON s.chunk = x.chunk AND s.h = x.h
                WHERE s.n BETWEEN 2 AND $maxBucket
                UNION
                SELECT s.anchor AS a, m.doc_id AS b
                FROM chunks m JOIN bsize s ON s.chunk = m.chunk AND s.h = m.h
                WHERE s.n > $maxBucket AND m.doc_id <> s.anchor),
       ham AS (SELECT c.a, c.b,
                 (bit_count(xor(xa.c0, xb.c0)) + bit_count(xor(xa.c1, xb.c1)) +
                  bit_count(xor(xa.c2, xb.c2)) + bit_count(xor(xa.c3, xb.c3)))::BIGINT AS hamming
               FROM cand c JOIN docsig xa ON xa.doc_id = c.a
                           JOIN docsig xb ON xb.doc_id = c.b)
       SELECT a, b, hamming FROM ham WHERE hamming <= 3 ORDER BY a, b"""
  }

  private def embeddingOracle: String = {
    val planeValues = Hyperplanes.zipWithIndex.flatMap { case (row, p) =>
      row.zipWithIndex.map { case (w, i) => s"($p, ${i + 1}, $w)" }
    }.mkString(", ")
    s"""WITH plane(p, i, w) AS (VALUES $planeValues),
       flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings),
       dotp AS (SELECT f.vec_id, pl.p, SUM(f.val * pl.w) AS dp
                FROM flat f JOIN plane pl ON f.i = pl.i
                GROUP BY f.vec_id, pl.p),
       bucket AS (SELECT vec_id AS doc_id,
                    (SUM(CASE WHEN dp >= 0 THEN (1::BIGINT << p) ELSE 0 END))::BIGINT AS bucket
                  FROM dotp GROUP BY vec_id),
       bsize AS (SELECT bucket, COUNT(*) AS n, MIN(doc_id) AS anchor
                 FROM bucket GROUP BY bucket),
       cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bucket x JOIN bucket y
                  ON x.bucket = y.bucket AND x.doc_id < y.doc_id
                JOIN bsize s ON s.bucket = x.bucket
                WHERE s.n BETWEEN 2 AND $maxBucket
                UNION
                SELECT s.anchor AS a, m.doc_id AS b
                FROM bucket m JOIN bsize s ON s.bucket = m.bucket
                WHERE s.n > $maxBucket AND m.doc_id <> s.anchor),
       cos AS (SELECT c.a, c.b,
                 ROUND(SUM(fa.val * fb.val) /
                   (SQRT(SUM(fa.val * fa.val)) * SQRT(SUM(fb.val * fb.val))), 6) AS cosine
               FROM cand c JOIN flat fa ON fa.vec_id = c.a
                           JOIN flat fb ON fb.vec_id = c.b AND fa.i = fb.i
               GROUP BY c.a, c.b),
       sym AS (SELECT a AS doc_id, b AS nn_id, cosine FROM cos
               UNION ALL SELECT b, a, cosine FROM cos),
       best AS (SELECT doc_id, nn_id, cosine FROM (
                  SELECT doc_id, nn_id, cosine,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY cosine DESC, nn_id) AS rn
                  FROM sym) WHERE rn = 1)
       SELECT e.vec_id AS doc_id, best.nn_id, best.cosine,
              COALESCE(best.cosine >= 0.95, false) AS is_dup
       FROM embeddings e LEFT JOIN best ON best.doc_id = e.vec_id
       ORDER BY doc_id"""
  }

  val oracle: Map[String, String] = Map(
    // full replay: same affine rehashes into the same bit positions, same
    // bit_or word construction, same probe and exact-membership audit
    "dedup_bloom_prefilter" -> {
      val pos = s"(${graft.functions.PolyHash.affineSql("t", "h")}) % $bloomBits"
      s"""WITH hsh AS (SELECT doc_id, ${graft.functions.PolyHash.duckSql("text")} AS h FROM documents),
         corpus AS (SELECT doc_id, h FROM hsh WHERE doc_id % 10 != 0),
         batch AS (SELECT doc_id, h FROM hsh WHERE doc_id % 7 = 0),
         ts AS (SELECT unnest(range(0, $bloomHashes)) AS t),
         cpos AS (SELECT ($pos) AS pos FROM corpus CROSS JOIN ts),
         bloom AS (SELECT pos // 32 AS word,
                     BIT_OR(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
                   FROM cpos GROUP BY pos // 32),
         probe AS (SELECT doc_id, h, ($pos) AS pos FROM batch CROSS JOIN ts),
         hits AS (SELECT p.doc_id, p.h,
                    BOOL_AND(bl.bits IS NOT NULL AND
                      (bl.bits & (1::BIGINT << CAST(p.pos % 32 AS INT))) != 0) AS maybe
                  FROM probe p LEFT JOIN bloom bl ON bl.word = p.pos // 32
                  GROUP BY p.doc_id, p.h),
         verdict AS (SELECT doc_id, maybe,
                       h IN (SELECT h FROM corpus) AS is_dup FROM hits)
         SELECT COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
           CAST(SUM(CASE WHEN maybe AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN maybe AND NOT is_dup THEN 1 ELSE 0 END) AS DOUBLE)
             / GREATEST(COUNT(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END), 1), 6)
             AS fp_rate
         FROM verdict"""
    },
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id""",
    // full replay of the substring pipeline: same k-token windows, same
    // PolyHash (so even a hash collision merges the same groups in both
    // engines), same gaps-and-islands interval merge
    "dedup_substring" -> {
      import graft.functions.PolyHash
      val k = substringK
      s"""WITH ws AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE len(string_split(text, ' ')) >= $k),
         -- per-word hashes once (duckSql's fold binds its own `i`, so it
         -- lives in a CTE with no positional variable in scope), then each
         -- window key folds k word-hashes — same arithmetic as Spark
         whc AS (
           SELECT doc_id, list_transform(w, ww -> ${PolyHash.duckSql("ww")}) AS wh
           FROM ws),
         sh AS (
           SELECT doc_id, i AS pos,
             list_reduce(list_prepend(0::BIGINT, wh[i:i + ${k - 1}]),
               (a, h) -> (a * ${PolyHash.B} + h) % ${PolyHash.P}) AS h
           FROM whc, UNNEST(generate_series(1, len(wh) - ${k - 1})) AS t(i)),
         dfq AS (
           SELECT h, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY h
           HAVING COUNT(DISTINCT doc_id) >= 2),
         m AS (SELECT s.doc_id, s.pos, d.df FROM sh s JOIN dfq d USING (h)),
         isl AS (
           SELECT doc_id, pos, df,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM m)
         SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) - MIN(pos) + $k AS BIGINT) AS span_len,
           CAST(MIN(df) AS BIGINT) AS n_docs
         FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start"""
    },
    "dedup_clusters" ->
      s"""WITH $shingleCtes,
         $ngramInterCtes,
         $clusterCtes
         SELECT d.doc_id, cc.cluster_id, (d.doc_id = cc.cluster_id) AS is_kept
         FROM documents d JOIN cc ON d.doc_id = cc.doc
         ORDER BY d.doc_id""",
    "dedup_cluster_stats" ->
      s"""WITH $shingleCtes,
         $ngramInterCtes,
         $clusterCtes,
         szs AS (
           SELECT cc.cluster_id, COUNT(*) AS sz
           FROM documents d JOIN cc ON d.doc_id = cc.doc
           GROUP BY cc.cluster_id)
         SELECT sz, COUNT(*) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_docs
         FROM szs GROUP BY sz ORDER BY sz""",
    "dedup_keep_best" ->
      s"""WITH $shingleCtes,
         $ngramInterCtes,
         $clusterCtes,
         ranked AS (
           SELECT d.doc_id, cc.cluster_id,
             ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
           FROM documents d JOIN cc ON d.doc_id = cc.doc)
         SELECT doc_id, cluster_id, (rk = 1) AS is_kept
         FROM ranked ORDER BY doc_id""",
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCtes,
         $ngramInterCtes
         SELECT inter.a, inter.b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
         FROM inter JOIN sizes na ON inter.a = na.doc_id
                    JOIN sizes nb ON inter.b = nb.doc_id
         WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
         ORDER BY a, b""",
    "dedup_containment" ->
      s"""WITH $shingleCtes,
         $ngramInterCtes
         SELECT inter.a, inter.b, CAST(i AS DOUBLE) / LEAST(na.n, nb.n) AS containment
         FROM inter JOIN sizes na ON inter.a = na.doc_id
                    JOIN sizes nb ON inter.b = nb.doc_id
         WHERE CAST(i AS DOUBLE) / LEAST(na.n, nb.n) >= 0.8
         ORDER BY a, b""",
    "dedup_minhash" -> minhashOracle,
    "dedup_minhash_1bit" -> minhash1bitOracle,
    "dedup_bucket_dist" -> {
      s"""WITH $shingleCtes,
         $bandCtes,
         bs AS (SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS bucket_size
                FROM band GROUP BY band, bh)
         SELECT bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           bucket_size > $maxBucket AS over_cap
         FROM bs GROUP BY bucket_size ORDER BY bucket_size"""
    },
    "dedup_impact" ->
      """WITH k AS (
           SELECT doc_id, source, n_chars, md5(text) AS ch,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
           FROM documents)
         SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE doc_id != canon) AS BIGINT)
             AS n_removed,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE doc_id != canon), 0)
             AS BIGINT) AS chars_removed,
           round(CAST(COUNT(*) FILTER (WHERE doc_id != canon) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS removed_share
         FROM k GROUP BY source ORDER BY source""",
    "dedup_threshold_curve" -> thresholdCurveOracle,
    "dedup_fuzzy" -> fuzzyOracle,
    "dedup_lsh_recall" -> lshRecallOracle,
    "dedup_source_matrix" -> sourceMatrixOracle,
    "dedup_incremental" -> incrementalOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_embedding" -> embeddingOracle,
  )
}
