package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns._

/** Near-duplicate detection for a training-data pipeline, three ways:
  *
  *  - MinHash + LSH banding: shingle → k seeded min-hashes → band buckets →
  *    bucket-join. The join is on (band, bucket), so candidate generation is
  *    a hash-partitioned equi-join whose cost scales with bucket collisions,
  *    NOT with n² — the 100 TB-safe shape for fuzzy dedup.
  *  - SimHash: per-document 32-bit sign fingerprint of token hashes; near
  *    dups are pairs at small Hamming distance.
  *  - Exact n-gram Jaccard: shingle equi-join restricted to a blocking key
  *    (source), used to score/verify candidates exactly.
  *
  * All hashes are md5 hex strings (engine-portable); min over hex strings
  * is lexicographic, which every engine implements identically.
  */
object NearDup {

  /** Modulus of the 2-universal min-hash family (2^31 − 1, prime). */
  val MinHashP = 2147483647L

  /** MinHash signatures: one row per doc, k min-hash columns s0..s(k-1).
    *
    * One md5 per shingle, not k: the k hash functions are the 2-universal
    * affine family h_i = (h1 + i·h2) mod p over two 60-bit halves of the
    * single md5 (p = 2^31−1, so i·h2 stays far from long overflow). The k
    * `min`s run in ONE hash aggregation with k primitive LONG buffers —
    * codegen'd HashAggregate (string buffers would fall back to the
    * sort-based path) and an O(docs)-size shuffle. */
  def minHashSignatures(docs: DataFrame, k: Int): DataFrame = {
    val sh = Shingles.table(docs)
    val withHash = sh
      .withColumn("md5h", md5(col("shingle")))
      .withColumn("h1", conv(substring(col("md5h"), 1, 15), 16, 10).cast("long") % MinHashP)
      .withColumn("h2", conv(substring(col("md5h"), 16, 15), 16, 10).cast("long") % MinHashP)
    def sig(i: Int) = min((col("h1") + lit(i.toLong) * col("h2")) % MinHashP).as(s"s$i")
    withHash.groupBy(col("doc_id")).agg(sig(0), (1 until k).map(sig): _*)
  }

  /** LSH band buckets: `bands` rows per doc, bucket = md5 of the band's
    * signature slice. */
  def lshBuckets(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("bucket"))
    }
    signatures.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate near-dup pairs: docs sharing any LSH bucket (doc_a < doc_b).
    * Stages the bucket table via [[Shingles.shared]] (landed parquet,
    * reused by both join sides and by later identical calls). */
  def minHashCandidates(docs: DataFrame, k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= k)
    // bucket table is referenced twice (both join sides) → stage so the
    // signature computation runs once
    val bk = Shingles.shared(
      lshBuckets(minHashSignatures(docs, k), bands, rowsPerBand))
    val a = bk.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = bk.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Skew-hardened LSH candidates: [[minHashCandidates]] with a per-
    * (band, bucket) population cap — the guard for DEGENERATE corpora
    * where mass-duplicated boilerplate floods one bucket and the plain
    * self-join goes quadratic in its population m.
    *
    * Buckets at or under `maxBucket` keep the exact all-pairs join.
    * Buckets OVER the cap are star-reduced: each member pairs with the
    * bucket's min doc_id anchor only — m−1 pairs instead of m(m−1)/2,
    * so total candidate volume is bounded by
    * (maxBucket/2 + 1) · |bucket rows|, LINEAR in the corpus for any
    * fixed cap. The reduction preserves connected components (every
    * over-cap member reaches every other through the anchor), which is
    * what the downstream cluster/survivor machinery consumes; what it
    * gives up is direct pair evidence between non-anchor members of an
    * over-cap bucket — the right trade exactly there, because a bucket
    * only exceeds a sane cap when it IS a duplicate crowd (all four
    * band signatures agreeing across thousands of docs means
    * near-identical content, and the exact verifier still scores every
    * emitted star edge). Same spirit as a salted skew join
    * ([[graft.engine.Joins]]), but it bounds the OUTPUT, not just the
    * per-task work — at 100 TB the m² pair materialization is the
    * killer, not the single hot task. */
  def minHashCandidatesCapped(docs: DataFrame, k: Int, bands: Int,
                              rowsPerBand: Int, maxBucket: Long): DataFrame = {
    require(bands * rowsPerBand <= k)
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val bk = Shingles.shared(
      lshBuckets(minHashSignatures(docs, k), bands, rowsPerBand))
    val stats = bk.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"), min(col("doc_id")).as("__anchor"))
    val tagged = bk.join(stats, Seq("band", "bucket"))
    val small = tagged.filter(col("__n") <= maxBucket)
    val allPairs = small
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(small.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(col("doc_id") =!= col("__anchor"))
      .select(col("__anchor").as("doc_a"), col("doc_id").as("doc_b"))
    allPairs.union(star).distinct()
  }

  /** Incremental near-dup candidates: NEW batch docs against an already
    * bucketed corpus, without re-pairing the corpus — the only shape
    * that works when the corpus is 100 TB and the daily batch is 0.1%
    * of it. The corpus side is `lshBuckets(minHashSignatures(corpus))`
    * written once as a staging table and reused every batch; the batch
    * side is bucketed fresh (tiny). Output: (doc_a, doc_b) where at
    * least one side is a batch doc — batch-vs-corpus pairs plus
    * batch-internal pairs, exactly the new pairs full recomputation
    * over (corpus ∪ batch) would add.
    *
    * The batch bucket table is broadcast when small (Catalyst decides
    * from stats); the corpus bucket table is only ever probed on
    * (band, bucket) — no corpus-wide shuffle. */
  def incrementalCandidates(corpusBuckets: DataFrame, batch: DataFrame,
                            k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= k)
    val bb = Shingles.shared(
      lshBuckets(minHashSignatures(batch, k), bands, rowsPerBand))
    val cb = corpusBuckets.select(col("band"), col("bucket"),
      col("doc_id").as("doc_corpus"))
    val vsCorpus = bb.select(col("band"), col("bucket"), col("doc_id").as("doc_new"))
      .join(cb, Seq("band", "bucket"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .select(least(col("doc_new"), col("doc_corpus")).as("doc_a"),
        greatest(col("doc_new"), col("doc_corpus")).as("doc_b"))
    val withinBatch = bb.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(bb.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    vsCorpus.union(withinBatch).distinct()
  }

  /** [[incrementalCandidates]] behind per-(band, bucket) population
    * caps on BOTH sides — the flood regimes are different and both
    * real: a boilerplate-flooded CORPUS bucket multiplies every
    * matching batch doc by its population m_c (the batch join fans out
    * m_b · m_c), and a flooded BATCH bucket goes quadratic internally
    * exactly like the full-corpus case.
    *
    *  - corpus bucket ≤ cap: full batch×corpus join (exact).
    *    Over cap: each batch doc pairs with the corpus bucket's
    *    min-doc_id anchor only — the batch doc still reaches the
    *    corpus crowd (whose internal edges were emitted when the
    *    corpus itself was built), output ≤ |batch bucket rows|.
    *  - batch side: the [[minHashCandidatesCapped]] star reduction.
    *
    * The corpus bucket stats are an O(#buckets) aggregate over the
    * WHOLE corpus bucket table — a corpus-wide shuffle every batch if
    * recomputed here, which at 100 TB would dominate the batch cost
    * and contradict the incremental design's probe-only property. A
    * production pipeline lands them ONCE next to the bucket table at
    * corpus-build time ([[bucketStats]]) and passes them in via
    * `corpusStats`; the recompute fallback (corpusStats = None) keeps
    * the operator self-contained for ad-hoc use. */
  def incrementalCandidatesCapped(corpusBuckets: DataFrame, batch: DataFrame,
                                  k: Int, bands: Int, rowsPerBand: Int,
                                  maxBucket: Long,
                                  corpusStats: Option[DataFrame] = None): DataFrame = {
    require(bands * rowsPerBand <= k)
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val bb = Shingles.shared(
      lshBuckets(minHashSignatures(batch, k), bands, rowsPerBand))
    val cs = corpusStats
      .map(_.select(col("band"), col("bucket"),
        col("n").as("__nc"), col("anchor").as("__ac")))
      .getOrElse(bucketStats(corpusBuckets)
        .select(col("band"), col("bucket"),
          col("n").as("__nc"), col("anchor").as("__ac")))
    val bNew = bb.select(col("band"), col("bucket"), col("doc_id").as("doc_new"))
    val vsSmall = bNew
      .join(corpusBuckets.select(col("band"), col("bucket"),
          col("doc_id").as("doc_corpus"))
        .join(cs.filter(col("__nc") <= maxBucket), Seq("band", "bucket")),
        Seq("band", "bucket"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .select(least(col("doc_new"), col("doc_corpus")).as("doc_a"),
        greatest(col("doc_new"), col("doc_corpus")).as("doc_b"))
    val vsBig = bNew
      .join(cs.filter(col("__nc") > maxBucket), Seq("band", "bucket"))
      .filter(col("doc_new") =!= col("__ac"))
      .select(least(col("doc_new"), col("__ac")).as("doc_a"),
        greatest(col("doc_new"), col("__ac")).as("doc_b"))
    val bs = bb.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__nb"), min(col("doc_id")).as("__ab"))
    val tagged = bb.join(bs, Seq("band", "bucket"))
    val smallB = tagged.filter(col("__nb") <= maxBucket)
    val withinSmall = smallB
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(smallB.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val withinStar = tagged.filter(col("__nb") > maxBucket)
      .filter(col("doc_id") =!= col("__ab"))
      .select(col("__ab").as("doc_a"), col("doc_id").as("doc_b"))
    vsSmall.union(vsBig).union(withinSmall).union(withinStar).distinct()
  }

  /** Per-(band, bucket) population + anchor stats of an LSH bucket
    * table — the O(#buckets) summary a corpus build lands ONCE next to
    * the bucket table so every incremental batch
    * ([[incrementalCandidatesCapped]]) reads it instead of re-shuffling
    * the whole corpus. Schema: (band, bucket, n, anchor). */
  def bucketStats(buckets: DataFrame): DataFrame =
    buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("anchor"))

  /** SimHash bit width (32 bits = 8 md5 hex digits per token). */
  val SimHashBits = 32

  /** Band count for the pigeonhole band joins ([[simHashPairs]],
    * [[simHash64Pairs]] and their capped variants): the recall
    * guarantee is maxHamming < bands. The catalog (SparkEntry)
    * interpolates this constant into its engine calls AND into the
    * generated oracle SQL's banding CTEs, and asserts its hamming
    * threshold against it at catalog-construction time — the engine
    * and the gate move together or not at all. */
  val SimHashBands = 4

  /** 32-bit SimHash fingerprint per document. Tokens keep multiplicity
    * (multiplicity = weight). Bit b of the fingerprint is set iff the sum
    * over tokens of ±1 (by bit b of the token's md5 prefix) is positive.
    *
    * The md5 prefix is decoded ONCE per token (`conv` of 8 hex digits →
    * one long) and bits extract by shift/mask — per-nibble
    * substring+instr extraction cost 8–16 string ops per token row. */
  def simHash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("v1"))
    val sums = tok.groupBy(col("doc_id")).agg(
      sumBit(col("v1"), 0).as("b0"),
      (1 until SimHashBits).map(b => sumBit(col("v1"), b).as(s"b$b")): _*)
    val fp = (0 until SimHashBits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), fp.as("simhash"))
  }

  /** ±1 vote for bit b of a 32-bit word decoded from hex digits d1..d8
    * (digit j = b/4 + 1, bit k = b%4 within the digit; digit j holds
    * word bits 4·(8−j)..4·(8−j)+3, so bit b sits at 4·(7−b/4) + b%4 —
    * identical votes to the per-nibble form, verified by the oracle). */
  private def sumBit(v: Column, b: Int): Column = {
    val pos = 4 * (7 - b / 4) + b % 4
    val bit = shiftright(v, pos).bitwiseAND(lit(1L))
    sum(when(bit === 1, 1).otherwise(-1))
  }

  /** Pairs of documents within `maxHamming` SimHash bits of each other.
    *
    * Never a cross join: the 32-bit fingerprint splits into 4 bands of 8
    * bits; by pigeonhole, any pair within Hamming distance < 4 agrees on
    * at least one whole band, so an equi-join on (band, band-value)
    * generates ALL qualifying pairs (exact recall), and the cheap
    * bit_count verify filters false candidates. Candidate volume scales
    * with band-bucket collisions, not n².
    * Stages the banded table via [[Shingles.shared]] (landed parquet
    * scanned by both join sides). */
  def simHashPairs(fingerprints: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < SimHashBands,
      s"band-join recall guarantee needs maxHamming < $SimHashBands")
    val banded = simHashBanded(fingerprints)
    val a = banded.select(col("band"), col("bv"),
      col("doc_id").as("doc_a"), col("simhash").as("fp_a"))
    val b = banded.select(col("band"), col("bv"),
      col("doc_id").as("doc_b"), col("simhash").as("fp_b"))
    // hamming-verify BEFORE the distinct: bit_count per candidate row is
    // ~free next to the distinct's shuffle, so failing candidates die
    // map-side and the distinct ships only true pairs (≤ bands× each) at
    // 3 narrow columns instead of every band collision carrying both
    // 64-bit fingerprints
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Staged (doc_id, simhash, band, bv) band table of the 32-bit
    * fingerprints: [[SimHashBands]] rows per doc. */
  private def simHashBanded(fingerprints: DataFrame): DataFrame = {
    require(SimHashBits % SimHashBands == 0,
      "bands must evenly cover the full fingerprint")
    val bandBits = SimHashBits / SimHashBands
    val bandMask = (1L << bandBits) - 1
    val bandStructs = (0 until SimHashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), bandBits * b).bitwiseAND(lit(bandMask)).as("bv"))
    }
    Shingles.shared(
      fingerprints.select(col("doc_id"), col("simhash"),
          explode(array(bandStructs: _*)).as("x"))
        .select(col("doc_id"), col("simhash"),
          col("x.band").as("band"), col("x.bv").as("bv")))
  }

  /** [[simHashPairs]] behind the q163-style per-(band, bv) population
    * cap — the same boilerplate-flood guard as
    * [[minHashCandidatesCapped]], because the simhash pair table feeds
    * the staged cluster/survivor/graph family and a single flooded band
    * bucket would otherwise go quadratic in its population.
    *
    * Buckets at or under `maxBucket` keep the exact all-pairs band join
    * (pigeonhole-exact recall for those pairs). Buckets OVER the cap
    * are star-reduced to their min-doc_id anchor: m−1 candidate edges
    * instead of m(m−1)/2, output LINEAR in the corpus for a fixed cap.
    * Every emitted edge — star or not — still passes the exact hamming
    * verify, so the output remains a subset of true pairs; what an
    * over-cap bucket gives up is direct pair evidence between
    * non-anchor members (they stay connected through the anchor
    * whenever the flood is a genuine duplicate crowd, i.e. pairwise
    * hamming ≤ maxHamming — the anchor IS a member, so anchor edges
    * are themselves within the threshold there). A bucket that exceeds
    * a sane cap without being a duplicate crowd is the 2^bandBits
    * birthday regime where the band join was never informative to
    * begin with. */
  def simHashPairsCapped(fingerprints: DataFrame, maxHamming: Int,
                         maxBucket: Long): DataFrame = {
    require(maxHamming < SimHashBands,
      s"band-join recall guarantee needs maxHamming < $SimHashBands")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val banded = simHashBanded(fingerprints)
    // anchor row = min struct(doc_id, simhash): doc_id appears once per
    // (band, bv), so the struct min is exactly the min-doc_id member's
    // fingerprint (the arg_min the oracle SQL computes)
    val stats = banded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("doc_id"), col("simhash"))).as("__a"))
    val tagged = banded.join(stats, Seq("band", "bv"))
    val small = tagged.filter(col("__n") <= maxBucket)
    val allPairs = small
      .select(col("band"), col("bv"), col("doc_id").as("doc_a"),
        col("simhash").as("fp_a"))
      .join(small.select(col("band"), col("bv"), col("doc_id").as("doc_b"),
        col("simhash").as("fp_b")), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(col("doc_id") =!= col("__a.doc_id"))
      .withColumn("hamming",
        bit_count(col("__a.simhash").bitwiseXOR(col("simhash"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      // the anchor carries the bucket's min doc_id, so doc_a < doc_b
      .select(col("__a.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("hamming"))
    allPairs.union(star).distinct()
  }

  /** Incremental [[simHashPairsCapped]]: the pairs a full recompute
    * over (corpus ∪ batch) would ADD — batch-vs-corpus plus
    * batch-internal — without re-pairing the corpus, the only shape a
    * daily 100 TB ingest can afford (the simhash twin of
    * [[incrementalCandidatesCapped]], q70/q168). The corpus side is
    * its landed fingerprint table ([[simHash]] output, staged once at
    * corpus-build time); its banded form and per-bucket census are
    * plan-keyed staged here, so every batch after the first probes
    * landed tables only.
    *
    * Cap semantics are UNION-EXACT: each bucket's population is
    * counted over corpus + batch together (the corpus census plus the
    * fresh batch counts), so under the documented id-ordering contract
    * the output EQUALS `simHashPairsCapped(corpus ∪ batch)` filtered
    * to pairs touching a batch doc — in the flood regime included
    * (spec-pinned): an over-cap union bucket stars its batch members
    * to the union anchor, which is the corpus anchor whenever the
    * bucket has corpus members.
    *
    * CONTRACT: every batch doc_id must exceed every corpus doc_id
    * (monotone ingest ids — the natural daily shape). A smaller batch
    * id would make the union anchor a batch doc, whose star edges to
    * CORPUS members a corpus-blind increment cannot emit;
    * [[graft.Pipeline.curateIncrement]] checks the boundary before
    * calling. */
  def incrementalSimhashPairsCapped(corpusFps: DataFrame,
                                    batchFps: DataFrame,
                                    maxHamming: Int,
                                    maxBucket: Long): DataFrame = {
    require(maxHamming < SimHashBands,
      s"band-join recall guarantee needs maxHamming < $SimHashBands")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val cb = simHashBanded(corpusFps)
    val cs = Shingles.shared(cb.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__nc"),
        min(struct(col("doc_id"), col("simhash"))).as("__ac")))
    val bb = simHashBanded(batchFps)
    val bs = bb.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__nb"),
        min(struct(col("doc_id"), col("simhash"))).as("__ab"))
    // union census per batch-touched bucket; the anchor is the corpus
    // anchor when corpus members exist (smaller ids by contract)
    val stats = bs.join(cs, Seq("band", "bv"), "left")
      .select(col("band"), col("bv"),
        (col("__nb") + coalesce(col("__nc"), lit(0L))).as("__n"),
        when(coalesce(col("__nc"), lit(0L)) > 0, col("__ac"))
          .otherwise(col("__ab")).as("__a"))
    val taggedB = bb.join(stats, Seq("band", "bv"))
    val smallB = taggedB.filter(col("__n") <= maxBucket)
    val vsCorpus = smallB
      .select(col("band"), col("bv"), col("doc_id").as("doc_new"),
        col("simhash").as("fp_new"))
      .join(cb.select(col("band"), col("bv"), col("doc_id").as("doc_c"),
        col("simhash").as("fp_c")), Seq("band", "bv"))
      .withColumn("hamming",
        bit_count(col("fp_new").bitwiseXOR(col("fp_c"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("doc_new"), col("doc_c")).as("doc_a"),
        greatest(col("doc_new"), col("doc_c")).as("doc_b"), col("hamming"))
    val withinB = smallB
      .select(col("band"), col("bv"), col("doc_id").as("doc_a"),
        col("simhash").as("fp_a"))
      .join(smallB.select(col("band"), col("bv"), col("doc_id").as("doc_b"),
        col("simhash").as("fp_b")), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val star = taggedB.filter(col("__n") > maxBucket)
      .filter(col("doc_id") =!= col("__a.doc_id"))
      .withColumn("hamming",
        bit_count(col("__a.simhash").bitwiseXOR(col("simhash"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("doc_id"), col("__a.doc_id")).as("doc_a"),
        greatest(col("doc_id"), col("__a.doc_id")).as("doc_b"),
        col("hamming"))
    vsCorpus.union(withinB).union(star).distinct()
  }

  /** 64-bit SimHash for corpora where 8-bit band buckets collide heavily
    * (≥ millions of docs): stored as two non-negative 32-bit halves
    * (`fp_hi`, `fp_lo`) so no engine ever touches the sign bit — bit b
    * of the conceptual 64-bit fingerprint is bit (b−32) of fp_hi for
    * b ≥ 32, else bit b of fp_lo. The low half uses md5 nibbles 1–8,
    * i.e. it IS the 32-bit [[simHash]] fingerprint; the high half uses
    * nibbles 9–16. One tokenize + md5 pass, 64 primitive vote counters
    * in a single codegen'd hash aggregation. */
  def simHash64(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("v2"))
    // bits 0..31 vote from hex digits 1–8 (v1), 32..63 from digits 9–16 (v2)
    def vote(b: Int): Column =
      if (b < 32) sumBit(col("v1"), b) else sumBit(col("v2"), b - 32)
    val sums = tok.groupBy(col("doc_id")).agg(
      vote(0).as("b0"), (1 until 64).map(b => vote(b).as(s"b$b")): _*)
    def half(from: Int): Column = (from until from + 32)
      .map(b => when(col(s"b$b") > 0, lit(1L << (b - from))).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), half(32).as("fp_hi"), half(0).as("fp_lo"))
  }

  /** Near-dup pairs over the 64-bit fingerprint: 4 bands of 16 bits
    * (two per half) — pigeonhole-exact recall for Hamming < 4, with the
    * usual cheap bit_count verify. All band values are < 2^16, shifts
    * never touch a sign bit on either engine. */
  def simHash64Pairs(fingerprints: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < SimHashBands,
      s"$SimHashBands-band recall guarantee over 64 bits needs maxHamming < $SimHashBands")
    val banded = simHash64Banded(fingerprints)
    val a = banded.select(col("band"), col("bv"), col("doc_id").as("doc_a"),
      col("fp_hi").as("hi_a"), col("fp_lo").as("lo_a"))
    val b = banded.select(col("band"), col("bv"), col("doc_id").as("doc_b"),
      col("fp_hi").as("hi_b"), col("fp_lo").as("lo_b"))
    // hamming-verify before the distinct, as in [[simHashPairs]]
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
         bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** The 4×16-bit band slices of a 64-bit (two-half) fingerprint as an
    * array of (band, bv) structs — the ONE banding layout shared by the
    * batch pair generators ([[simHash64Banded]]) and the streaming
    * online dedup ([[graft.streaming.NearDupStream]]), so the two
    * surfaces cannot drift: bands 0–1 slice `lo`, bands 2–3 slice `hi`,
    * 16 bits each, every bv < 2^16 (no engine ever touches a sign bit). */
  def band64(hi: Column, lo: Column): Column = {
    // the two-16-bit-bands-per-half layout below (b < 2 → lo,
    // shift (b % 2)·16) is SPECIFIC to 4 bands: a changed SimHashBands
    // would silently mis-band (hi never banded, or bands aliasing)
    // and void the pigeonhole recall guarantee — fail loudly instead
    require(SimHashBands == 4,
      "the 4×16-bit band layout requires SimHashBands == 4")
    array((0 until SimHashBands).map { b =>
      val src = if (b < 2) lo else hi
      struct(lit(b).as("band"),
        shiftright(src, (b % 2) * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))
    }: _*)
  }

  /** Staged (doc_id, fp_hi, fp_lo, band, bv) band table of the 64-bit
    * fingerprints: [[SimHashBands]] bands of 16 bits, two per half. */
  private def simHash64Banded(fingerprints: DataFrame): DataFrame =
    Shingles.shared(
      fingerprints.select(col("doc_id"), col("fp_hi"), col("fp_lo"),
          explode(band64(col("fp_hi"), col("fp_lo"))).as("x"))
        .select(col("doc_id"), col("fp_hi"), col("fp_lo"),
          col("x.band").as("band"), col("x.bv").as("bv")))

  /** ROW-LOCAL 64-bit SimHash: the same fingerprint as [[simHash64]]
    * (bit-identical — pinned by spec) computed entirely within one row
    * via higher-order array functions, with NO explode and NO shuffle.
    *
    * Why both forms exist: the batch form's explode + codegen'd hash
    * aggregation is the throughput shape for corpus-wide fingerprinting
    * (64 primitive LONG buffers, whole-stage codegen), but it is an
    * AGGREGATION — Structured Streaming cannot place one before a
    * stateful operator, and any caller that needs a fingerprint as a
    * scalar column (streaming ingest, a projection inside a larger
    * plan) would otherwise pay a self-join against the aggregated
    * table. This form is a pure per-row expression: tokens → one md5
    * per token decoded into the SAME two 32-bit words v1/v2 the batch
    * form uses, ±1 votes per bit accumulated left-to-right into a
    * 64-long array (integer addition — order-free, so "left-to-right"
    * vs the aggregation's partial-merge order cannot move the result),
    * halves assembled with the identical bit→nibble position map as
    * [[simHash64]]'s `sumBit`. Higher-order functions evaluate
    * interpreted (no codegen), the right trade for per-arriving-row
    * work; corpus-scale batch fingerprinting should keep [[simHash64]].
    *
    * Returns struct(fp_hi, fp_lo); NULL text → NULL struct (the batch
    * form drops the doc entirely — callers filter nulls first). */
  def simHash64Row(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SimHash64Fp(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** The COMPOSABLE higher-order-function form of [[simHash64Row]] —
    * superseded on the hot path by the native
    * [[graft.functions.SimHash64Fp]] expression (HOFs evaluate
    * interpreted: ~64 boxed `when` trees per token made the q178 sf1
    * micro-batch fingerprint-bound — 30.4 s addBatch, ~7.5 s of it
    * state). Kept as the independent reference implementation the
    * equality spec pins the native expression against. */
  private[graft] def simHash64RowHof(text: Column): Column = {
    val toks = graft.functions.TextFns.tokens(text)
    // one md5 per token, decoded once into (v1, v2) — votes below read
    // the decoded words, never re-hash
    val decoded = transform(toks, t => {
      val h = md5(t)
      struct(
        conv(substring(h, 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("v2"))
    })
    // ±1 vote per fingerprint bit b: bit b < 32 reads v1, else v2, at
    // nibble position 4·(7 − b/4) + b%4 — the exact `sumBit` map
    def votes(w: Column): Column = array((0 until 64).map { b =>
      val (src, bb) = if (b < 32) (w.getField("v1"), b)
                      else (w.getField("v2"), b - 32)
      val pos = 4 * (7 - bb / 4) + bb % 4
      when(shiftright(src, pos).bitwiseAND(lit(1L)) === lit(1L), lit(1L))
        .otherwise(lit(-1L))
    }: _*)
    def half(sums: Column, from: Int): Column = (from until from + 32)
      .map(b => when(element_at(sums, b + 1) > 0, lit(1L << (b - from)))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    aggregate(decoded, array_repeat(lit(0L), 64),
      (acc, w) => zip_with(acc, votes(w), (x, y) => x + y),
      acc => struct(half(acc, 32).as("fp_hi"), half(acc, 0).as("fp_lo")))
  }

  /** [[simHash64Pairs]] behind the per-(band, bv) population cap — the
    * 64-bit sibling of [[simHashPairsCapped]], same star reduction,
    * same hamming verify on every emitted edge. */
  def simHash64PairsCapped(fingerprints: DataFrame, maxHamming: Int,
                           maxBucket: Long): DataFrame = {
    require(maxHamming < SimHashBands,
      s"$SimHashBands-band recall guarantee over 64 bits needs maxHamming < $SimHashBands")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val banded = simHash64Banded(fingerprints)
    val stats = banded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("doc_id"), col("fp_hi"), col("fp_lo"))).as("__a"))
    val tagged = banded.join(stats, Seq("band", "bv"))
    val small = tagged.filter(col("__n") <= maxBucket)
    def ham(hiA: Column, loA: Column, hiB: Column, loB: Column): Column =
      (bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB))).cast("long")
    val allPairs = small
      .select(col("band"), col("bv"), col("doc_id").as("doc_a"),
        col("fp_hi").as("hi_a"), col("fp_lo").as("lo_a"))
      .join(small.select(col("band"), col("bv"), col("doc_id").as("doc_b"),
        col("fp_hi").as("hi_b"), col("fp_lo").as("lo_b")), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", ham(col("hi_a"), col("lo_a"), col("hi_b"), col("lo_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(col("doc_id") =!= col("__a.doc_id"))
      .withColumn("hamming",
        ham(col("__a.fp_hi"), col("__a.fp_lo"), col("fp_hi"), col("fp_lo")))
      .filter(col("hamming") <= maxHamming)
      .select(col("__a.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("hamming"))
    allPairs.union(star).distinct()
  }

  /** Exact 3-gram Jaccard similarity for pairs sharing a blocking key and
    * at least one shingle. Shingle equi-join (shuffle on shingle hash),
    * never a cross join. */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, minJaccard: Double): DataFrame = {
    // referenced three times below (both join sides + sizes) but NOT
    // persisted: with the native ShingleGenerator, recomputing the
    // shingle table 3× is measurably cheaper (1.6 s vs 4.3 s at sf0.1)
    // than writing 260k rows into the block cache and reading them back
    val sh = Shingles.table(docs, Some(blockCol))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val a = sh.select(col(blockCol), col("shingle"), col("doc_id").as("doc_a"))
    val b = sh.select(col(blockCol), col("shingle"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq(blockCol, "shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** DIRECTIONAL n-gram containment: c(a→b) = |S(a) ∩ S(b)| / |S(a)| —
    * the asymmetric near-dup relation symmetric Jaccard misses: a short
    * quote inside a long document has tiny Jaccard but containment ≈ 1
    * for the quote side. Output is ordered pairs (both directions when
    * both clear the threshold).
    *
    * Same inverted-index shape as [[ngramJaccardPairs]] (shingle
    * equi-join, never n²), plus a df cap on the shingle itself: a
    * shingle shared by df docs fans out df² join rows, and boilerplate
    * shingles ("all rights reserved …") are exactly the ones that say
    * nothing about containment — `maxShingleDf` drops them BEFORE the
    * join (both the intersection AND the denominator count only banded
    * shingles, keeping the ratio's numerator ⊆ denominator). */
  def containmentPairs(docs: DataFrame, minContainment: Double,
                       maxShingleDf: Long): DataFrame = {
    val sh = Shingles.table(docs, None)
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    containmentFromBand(sh, dfs.filter(col("__df") <= maxShingleDf),
      minContainment)
  }

  /** [[containmentPairs]] with the CORPUS-RELATIVE df band: instead of
    * a fixed `maxShingleDf` literal (which goes vacuous under df
    * saturation — at sf10 every repeated shingle's df lands in
    * [771, 1025], a fixed 50 empties the band and the quote detector
    * returns 0 rows exactly where a provenance audit has the most to
    * find), the band threshold is derived from the corpus's own
    * df distribution:
    *
    *   bmax = min(fanout-budget threshold, max(dfFloor, quantile))
    *
    *  - the `quantileBp`-quantile (exact order statistic over REPEATED
    *    shingles, integer basis-point arithmetic — engine-portable, no
    *    interpolation) cuts the boilerplate tail corpus-relatively;
    *  - the fan-out budget threshold (largest df t with
    *    Σ_{df'≤t} count·df'² ≤ `fanoutBudget` — the EXACT candidate
    *    row count of the postings self-join below t) bounds the join
    *    at ANY corpus: a count-quantile alone reopens the Σdf²
    *    explosion under saturation (p90 at sf10 keeps 2.4·10¹⁰ join
    *    rows — measured). It binds even below the floor (a low-df-
    *    heavy web corpus can blow the budget entirely inside the
    *    floor), with ONE exception: the rarest df class is always
    *    kept, so the band cannot go empty while repeated shingles
    *    exist — rare shingles are exactly the containment-informative
    *    ones;
    *  - `dfFloor` lifts the QUANTILE arm only — the quantile never
    *    cuts below it on small/sparse corpora (the gate-SF regime).
    *
    * The threshold derivation runs on the df HISTOGRAM — one row per
    * distinct df value, a post-aggregation table bounded by max(df) —
    * so its unpartitioned cumulative window is the [[graft.engine.Ranking]]
    * O(|groups|) idiom, not a corpus-wide single-partition sort; the
    * one-row band result is broadcast into the shingle filter, keeping
    * the whole computation one declarative plan (no driver collect). */
  def containmentPairsQuantileBand(docs: DataFrame, minContainment: Double,
                                   quantileBp: Int, dfFloor: Long,
                                   fanoutBudget: Long): DataFrame = {
    val sh = Shingles.table(docs, None)
    containmentFromBand(sh,
      bandedShingleDfs(sh, quantileBp, dfFloor, fanoutBudget),
      minContainment)
  }

  /** The in-band (shingle, df) table the quantile-band containment
    * family filters its postings through — the band threshold
    * crossJoins in as a BROADCAST one-row frame. Exposed `private[graft]`
    * so the plan-invariant spec asserts the broadcast on THIS subplan:
    * the staged postings table hides it from the downstream queries'
    * executed plans. */
  private[graft] def bandedShingleDfs(sh: DataFrame, quantileBp: Int,
                                      dfFloor: Long,
                                      fanoutBudget: Long): DataFrame = {
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val band = broadcast(
      shingleDfBandMax(dfs, quantileBp, dfFloor, fanoutBudget))
    dfs.crossJoin(band).filter(col("__df") <= col("__bmax"))
      .select(col("shingle"), col("__df"))
  }

  /** Cumulative df histogram over REPEATED shingles: one row per
    * distinct df value with its shingle count, cumulative shingle
    * count, and cumulative exact self-join fan-out Σ count·df²
    * (DECIMAL(38,0) — long·long·long products overflow first at
    * web-corpus dfs). Shared substrate of [[shingleDfBandMax]] and the
    * df-profile query. */
  private def dfHistogram(dfs: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("__df").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dfs.filter(col("__df") >= 2)
      .groupBy(col("__df")).agg(count(lit(1)).as("__cnt"))
      .select(col("__df"), col("__cnt"),
        sum(col("__cnt")).over(wCum).as("__cum"),
        sum((col("__cnt").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("__df") * col("__df"))).over(wCum).as("__cumsq"))
  }

  /** The one-row (\_\_bmax) band threshold — see
    * [[containmentPairsQuantileBand]] for the derivation. All
    * arithmetic is exact integers (quantile in basis points via
    * cum·10⁴ ≥ n·bp, which equals cum ≥ ⌈bp·n/10⁴⌉ for integer cum),
    * so the oracle SQL reproduces the threshold bit for bit. */
  def shingleDfBandMax(dfs: DataFrame, quantileBp: Int, dfFloor: Long,
                       fanoutBudget: Long): DataFrame = {
    require(0 < quantileBp && quantileBp <= 10000,
      s"quantile must be basis points in (0, 10000], got $quantileBp")
    require(dfFloor >= 2 && fanoutBudget >= 1, "degenerate floor/budget")
    val hist = dfHistogram(dfs)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val qT = hist.withColumn("__n", sum(col("__cnt")).over(wAll))
      .filter(col("__cum") * 10000 >= col("__n") * quantileBp)
      .agg(min(col("__df")).as("__q"))
    val bT = hist.filter(col("__cumsq") <= fanoutBudget)
      .agg(max(col("__df")).as("__b"))
    val mn = hist.agg(min(col("__df")).as("__m"))
    // bmax = min(budget threshold, max(floor, quantile)): the floor
    // lifts only the QUANTILE arm (don't cut below it on small/sparse
    // corpora), while the budget arm binds even below the floor — the
    // original greatest(floor, ...) form let a low-df-heavy corpus
    // (10⁸ shingles at df 10: Σcnt·df² = 10¹⁰) sail past the budget
    // under the floor, which is exactly the explosion the budget
    // exists to prevent. The ONE exception to the hard bound stands
    // documented: the rarest repeated class is always kept (coalesce
    // to __m), so a corpus whose rarest class alone exceeds the
    // budget still gets a candidate set.
    qT.crossJoin(bT).crossJoin(mn)
      .select(least(
        coalesce(col("__b"), col("__m"), lit(dfFloor)),
        greatest(lit(dfFloor), coalesce(col("__q"), lit(dfFloor))))
        .as("__bmax"))
  }

  /** Corpus df-distribution profile: the band derivation's histogram
    * surfaced as a query result (df, shingle count, cumulative count,
    * cumulative fan-out, in-band flag), so band tuning reads a table
    * instead of re-probing the corpus. Output is ≤ |distinct df
    * values| rows. cum_fanout narrows to BIGINT for engine-portable
    * output (domain: Σdf² < 2⁶³ — 2.4·10¹⁰ at sf10, nine orders of
    * headroom). The narrowing is GUARDED: past the documented domain
    * Spark's non-ANSI DECIMAL→long cast yields NULL while DuckDB's
    * HUGEINT→BIGINT cast throws, so the two engines would fail in
    * different, silent-vs-loud ways — raise_error makes the engine
    * side as loud as the oracle's. */
  def shingleDfProfile(docs: DataFrame, quantileBp: Int, dfFloor: Long,
                       fanoutBudget: Long): DataFrame = {
    val sh = Shingles.table(docs, None)
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val band = broadcast(
      shingleDfBandMax(dfs, quantileBp, dfFloor, fanoutBudget))
    val cumLong = when(
      col("__cumsq") <= lit(Long.MaxValue)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)),
      col("__cumsq").cast("long"))
      .otherwise(raise_error(concat(
        lit("cum_fanout exceeds BIGINT: "), col("__cumsq").cast("string")))
        .cast("long"))
    dfHistogram(dfs).crossJoin(band)
      .select(col("__df").as("df"), col("__cnt").as("n_shingles"),
        col("__cum").as("cum_shingles"),
        cumLong.as("cum_fanout"),
        when(col("__df") <= col("__bmax"), 1).otherwise(0).as("in_band"),
        col("__bmax").as("band_max"))
  }

  private def containmentFromBand(sh: DataFrame, bandedDfs: DataFrame,
                                  minContainment: Double): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      "minContainment must be in (0, 1]")
    // postings carry their shingle's df; shared: referenced by sizes
    // and both sides of the postings self-join
    val banded = Shingles.shared(sh.join(bandedDfs, Seq("shingle")))
    val sizes = banded.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))

    // df = 1 shingles appear in exactly one doc: they count toward the
    // n_a denominator but can never land in an intersection, so every
    // join side drops them (on web corpora the singleton tail IS the
    // bulk of the postings)
    val joinable = banded.filter(col("__df") >= 2)

    // Intersection counts from the straight postings self-join:
    // Σ_s df(s)² candidate rows, bounded by the df band the caller
    // applied (the quantile band's fan-out budget keeps it ≤
    // ShingleDfFanoutBudget at ANY corpus by construction).
    val inter = joinable.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(joinable.select(col("shingle"), col("doc_id").as("doc_b")),
        Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_a")), "doc_a")
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_common"),
        col("containment"))
  }
}
