package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** MinHash + banded-LSH near-duplicate detection over `documents.text`.
  *
  * Pipeline (every step a native Column expression or a key-equi join —
  * no UDFs, no driver-side state, never an all-pairs product):
  *
  *  1. word 3-gram shingles per document (distinct, space-joined);
  *  2. 64-element MinHash signature per document — each element is
  *     `min(xxhash64(seed_i, shingle))`, computed as a per-row `transform`
  *     + `array_min`, so signatures cost zero shuffles;
  *  3. banded LSH: 32 bands × 2 signature rows hashed to a bucket key;
  *     documents sharing any band bucket become candidate pairs (an
  *     equi-join on the bucket key — candidate volume scales with real
  *     collisions, not with N²);
  *  4. exact verification: |A∩B| per candidate pair is computed by joining
  *     an inverted index of 8-byte shingle hashes onto the pairs and
  *     counting co-occurrences, then the true Jaccard in fixed-point
  *     (`(1000*|∩|) div (|A|+|B|-|∩|)`) — exact, engine-stable,
  *     threshold-filtered.
  *
  * Recall: with 32 bands of 2 rows, a pair at the 0.6 Jaccard threshold
  * is missed with probability (1-0.6²)³² ≈ 6e-7; at the ~0.9+ Jaccard of
  * real near-dup corpora the miss rate is ~0. Precision is exact (step 4).
  *
  * Scale notes (100 TB): nothing wider than an id or an 8-byte hash moves
  * through any shuffle — band keys for candidates, (doc_id, shingle-hash)
  * pairs for the verify — never document text or shingle arrays.
  * Degenerate buckets (boilerplate shingles) are the one skew risk — AQE
  * skew-join splitting is on, and a production run would additionally drop
  * buckets above a size cap, trading recall on pathological templates for
  * bounded work.
  */
object MinHashOps {

  val NumHashes = 64
  val Bands = 32
  val RowsPerBand = 2
  require(Bands * RowsPerBand == NumHashes)

  /** Distinct word-3-gram shingles; documents shorter than 3 tokens
    * collapse to a single whole-text shingle.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    Tables.parallelized(docs)
      .select(
        col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      .select(col("doc_id"), shinglesFromToks(col("toks")).as("shingles"))

  /** The shingle array over an ALREADY-MATERIALIZED token-array column.
    * The token split must be its own projection: `toks` is referenced
    * five times here, and inlining a regexp_extract_all into each
    * reference re-evaluates it per reference (CollapseProject only
    * dedups cheap expressions, and lambda bodies see no CSE) — the r13
    * single-column refactor measured exactly that, dedup_ngram
    * 1.6 s → 3.4 s, before splitting the projection back out. Shared by
    * the batch family and the streaming near-dup (same two-projection
    * shape on the stream side).
    */
  private[graft] def shinglesFromToks(toks: Column): Column =
    array_distinct(
      when(size(toks) < 3, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(1), size(toks) - 2),
          // concat of three element_at lookups, NOT
          // concat_ws(slice(...)): the slice form allocates a fresh
          // 3-element array per shingle inside an interpreted
          // lambda, and at corpus scale that allocation dominated
          // the whole pass (sf1: ~30 s -> the element_at form
          // measurably cuts per-row cost with identical output).
          i => concat(
            element_at(toks, i), lit(" "),
            element_at(toks, i + 1), lit(" "),
            element_at(toks, i + 2)))))

  /** 64-element MinHash signature column over a `shingles` array — the
    * native [[graft.functions.MinHashSig]] expression: one XXH64 base
    * hash per shingle plus 64 affine min-accumulators in a single fused
    * JIT loop. (The same affine trick in declarative Column form was
    * measured SLOWER than 64 seeded xxhash64 passes — 7.3s vs 4.8s at
    * sf0.1 — because higher-order-function lambdas are interpreted; the
    * custom expression removes that overhead entirely rather than
    * choosing between two interpreted shapes.)
    */
  private def signature: Column = signatureOf(col("shingles"))

  /** The signature as a column over an arbitrary shingle-array column —
    * shared with the streaming near-dup component.
    */
  private[graft] def signatureOf(shingles: Column): Column =
    graft.functions.GraftFunctions.minhash_sig(shingles, NumHashes)

  /** The 32 band-bucket keys over a 64-element `sig` array column —
    * `xxhash64(band, sig[2b+1], sig[2b+2])`, shared verbatim by the
    * batch LSH stage and the streaming near-dup component (identical
    * keys ⇒ identical blocking semantics across tiers).
    */
  private[graft] def bandKeysOf(sig: Column): Column =
    transform(
      sequence(lit(0), lit(Bands - 1)),
      b =>
        xxhash64(
          b,
          element_at(sig, b * RowsPerBand + 1),
          element_at(sig, b * RowsPerBand + 2)))

  /** 64-bit set-identity fingerprint of a document's shingle SET: the
    * xxhash64 of the lexicographically sorted per-shingle hash strings.
    * Documents with identical shingle sets — exact duplicates at the
    * shingle level, which is exactly the mass-duplication case — share
    * the key; two DISTINCT sets collide with probability ~2^-64 per
    * pair, the same budget the hashed verify counts already accept.
    */
  private def setKey: Column =
    xxhash64(lit(-2L), concat_ws(",",
      sort_array(transform(col("shingles"),
        x => xxhash64(lit(-1L), x).cast("string")))))

  /** Band-bucket size ceiling for the LSH candidate stage: with exact
    * set-duplicates already collapsed to one representative, a single
    * band bucket holding 512+ DISTINCT shingle sets is template mass
    * (many different documents agreeing on two MinHash rows), whose
    * C(size,2) candidate pairs carry almost no duplication evidence.
    * The cap bounds per-bucket candidate work at C(512,2) regardless of
    * how template-heavy the corpus is — the LSH analogue of
    * [[defaultDfCap]]. A genuinely near-dup pair shares ~32·J² bands in
    * expectation (≈11 at the 0.6 threshold), so it is lost only if ALL
    * its shared buckets are over-full — in practice only when its whole
    * overlap is the very template mass the cap targets.
    */
  val DefaultBucketCap: Int = 512

  /** Near-duplicate pairs with exact fixed-point Jaccard >= `thresholdMilli`,
    * found via banded LSH over MinHash signatures.
    *
    * Mass-duplication safety: exact shingle-set duplicates are collapsed
    * to one representative per set ([[setKey]] grouping) BEFORE the LSH
    * stage, and the verified representative pairs are expanded back to
    * member pairs afterwards (identical sets ⇒ identical Jaccard, and
    * within-group pairs are Jaccard 1000 by construction). A document
    * duplicated 100 000× therefore contributes ONE row to every band
    * bucket instead of 100 000 — the C(g,2)·32 bucket bomb never forms —
    * with zero recall loss: the expansion emits exactly the pairs the
    * exhaustive oracle emits. `bucketCap` additionally drops over-full
    * band buckets (post-collapse those are non-identical template mass).
    */
  def nearDupPairs(docs: DataFrame, thresholdMilli: Int = 600,
      bucketCap: Option[Int] = Some(DefaultBucketCap)): DataFrame = {
    val sh = shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK)

    // (1) Collapse exact set-duplicates: one representative (min doc_id)
    // per distinct shingle set; `members` maps every doc to its rep.
    val keyed = sh.select(col("doc_id"), setKey.as("set_key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = keyed.groupBy("set_key").agg(min("doc_id").as("rep"))
    val members = keyed.join(reps, "set_key")
      .select(col("doc_id"), col("rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repSh = sh.join(
      members.filter(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val bandKeys = bandKeysOf(col("sig"))

    // Persist the signature frame BEFORE exploding band keys: exploding
    // an array computed over an unmaterialized expensive column re-pays
    // the construction inside the interpreted Generate path (the sf1
    // explode trap) — and `sig` is the costliest column in the pipeline.
    val sigs = repSh.select(col("doc_id"), signature.as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val buckets = sigs.select(col("doc_id"), explode(bandKeys).as("bucket"))
    val kept = bucketCap.fold(buckets) { cap =>
      buckets.join(
        buckets.groupBy("bucket").agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= cap)
          .select("bucket"),
        "bucket")
    }

    val candidates = kept.as("x")
      .join(
        kept.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // Verify stage (REPRESENTATIVES ONLY): shingles are distinct per
    // document, so counting the (doc_a, doc_b, hash) co-occurrences of
    // an inverted hash index IS |A∩B|, and |A∪B| = |A|+|B|-|A∩B|. Seed
    // -1 keeps this hash family disjoint from the 64 signature seeds; a
    // 64-bit cross-shingle collision inside one pair's union
    // (~|A||B|/2^64) is far below the banding miss rate, so exactness vs
    // the string-based oracle holds. LSH false-positive candidates
    // sharing zero shingles drop out of the inner join — correct, their
    // Jaccard is 0.
    val inv = repSh
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(lit(-1), col("s")).as("h"))
    val sizes = repSh.select(col("doc_id"), size(col("shingles")).as("n"))
    val repPairs = candidates
      .join(inv.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        expr("(1000 * inter) div (na + nb - inter)").as("jaccard_milli"))
      .filter(col("jaccard_milli") >= thresholdMilli)

    // (3) Expand representative pairs back to member pairs. Identical
    // sets have identical signatures and Jaccards, so every (member of
    // A's group, member of B's group) pair inherits the rep pair's exact
    // value, and within-group pairs are exact duplicates at Jaccard
    // 1000. Pure id-equi-joins — the expansion volume IS the output.
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("ma")),
        "doc_a")
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("mb")),
        "doc_b")
      .select(
        least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        col("jaccard_milli"))
    val within = members.as("a")
      .join(members.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(1000L).as("jaccard_milli"))
    cross.union(within).orderBy("doc_a", "doc_b")
  }

  /** Registered-query entry over the `documents` table. */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(Tables.documents(s, dir))

  /** Exact n-gram-Jaccard near-dup pairs via an inverted shingle index:
    * candidates are pairs sharing at least one shingle (exactly the
    * Jaccard > 0 pairs), verified with the same fixed-point Jaccard.
    * Unlike [[nearDupPairs]] there is no probabilistic stage at all.
    *
    * Scale notes: candidate volume is sum over shingles of C(df, 2),
    * which explodes on boilerplate at 100 TB — `dfCap` drops
    * stop-shingles above a document-frequency cap from the CANDIDATE
    * stage (each costs C(df,2) candidates while carrying almost no
    * Jaccard evidence); verification then runs over the FULL inverted
    * hash index restricted to those candidates, so every emitted pair
    * carries its exact uncapped Jaccard. The cap trades only recall on
    * pairs whose entire overlap is boilerplate (their Jaccard is
    * template mass, not duplication) for candidate volume linear in
    * real near-dup density — the default in [[dedupNgram]] is ON,
    * because at 100 TB one license-header shingle is a quadratic bomb.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      thresholdMilli: Int = 600,
      dfCap: Option[Long] = None): DataFrame = {
    val sh = shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    dfCap match {
      case Some(cap) =>
        // Everything past the shingle arrays moves as (doc_id, 8-byte
        // shingle hash): the df count, the cap split, the candidate
        // self-join, and the intersection counts all key on the same
        // long. The self-join of the CAPPED index does double duty — its
        // pair-count IS |A∩B| restricted to capped shingles (shingles are
        // distinct per doc), so no second full-index verify pass exists.
        // The dropped stop-shingles' contribution to the true
        // intersection is added back by joining ONLY their postings onto
        // the candidate pairs — volume Σ_pair |dropped(A)|, a correction
        // term, not a second index scan — so every emitted Jaccard is
        // the exact uncapped value. (A cross-shingle 64-bit collision
        // perturbing a df count is the same ~|shingles|²/2^64 event the
        // co-occurrence count already accepts.)
        val sizes = shingleSizes(sh)
        cappedIntersections(sh, cap)
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
          .select(
            col("doc_a"),
            col("doc_b"),
            expr("(1000 * inter) div (na + nb - inter)").as("jaccard_milli"))
          .filter(col("jaccard_milli") >= thresholdMilli)
          .orderBy("doc_a", "doc_b")
      case None =>
        val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
        val inv = invertedIndex(sh, None)
        // Shingles are distinct per document, so the co-occurrence count IS
        // |A∩B|, and |A∪B| = |A|+|B|-|A∩B| — the verify stage is pure
        // aggregation over the inverted-index join; no shingle arrays are
        // ever carried through a shuffle.
        inv.as("a")
          .join(inv.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(
            col("doc_a"),
            col("doc_b"),
            expr("(1000 * inter) div (na + nb - inter)").as("jaccard_milli"))
          .filter(col("jaccard_milli") >= thresholdMilli)
          .orderBy("doc_a", "doc_b")
    }
  }

  /** The default stop-shingle cap: relative (corpus/100) so the guard
    * doesn't bite a tiny test corpus, but CEILED at an absolute 64 —
    * the part that actually matters at scale. A purely relative cap
    * admits posting lists of df ~ n/100, whose C(df,2) candidate mass
    * grows as n²; with the absolute ceiling, candidate volume is
    * bounded by C(64,2)·|distinct shingles| ≈ 2000·|vocabulary| —
    * LINEAR in the corpus no matter how template-heavy it is. (The sf1
    * rehearsal measured exactly this: a shuffled-vocabulary corpus
    * where every shingle's df tracked n/100 and the relative cap
    * stopped capping.) Recall cost is pairs whose every shared shingle
    * sits in 64+ documents — template mass by definition.
    */
  def defaultDfCap(nDocs: Long): Long =
    math.min(math.max(16L, nDocs / 100L), 64L)

  def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    ngramJaccardPairs(docs, dfCap = Some(defaultDfCap(docs.count())))
  }

  /** Floor threshold of the [[frozenPairs]] store — the lowest Jaccard
    * any consumer reads (the threshold-curve/band-curve sweeps start at
    * 300); every consumer filters `jaccard_milli >=` its own bar on the
    * stored frame.
    */
  val PairStoreFloor = 300

  private val pairStore = new ParquetStore("graft-pair-store")

  /** In-process materialized store of the df-capped exact n-gram-Jaccard
    * pair set over `dir`'s documents table — the
    * [[graft.operators.DedupClusterOps.convergedLabels]] /
    * frozen-centroid pattern pointed at the pair machinery: the
    * shingle→inverted-index→candidate→verify stage (the dominant cost of
    * `lsh_miss_audit`, `split_leakage_audit`, `dedup_threshold_curve`,
    * `dedup_consensus`, the cluster family, `dedup_source_matrix`) runs
    * ONCE per (documents contents) and every later consumer reads the
    * scored parquet, filtered to its own threshold. This is also the
    * right 100 TB shape: a published pair index with many consumers, not
    * a per-query index rebuild. Build cost stays honestly priced by the
    * direct-run entries that bypass the store (`dedup_ngram`,
    * `ngram_stop_shingles`). Content-token keying invalidates on table
    * rewrite.
    */
  def frozenPairs(s: SparkSession, dir: String): DataFrame =
    pairStore(s, dir,
      "#" + PairStoreFloor + "#" + Tables.contentToken(dir, "documents")) {
      val docs = Tables.documents(s, dir)
      ngramJaccardPairs(docs, PairStoreFloor,
        dfCap = Some(defaultDfCap(docs.count())))
    }

  /** The exploded (doc_id, shingle) index, optionally df-capped: shingles
    * appearing in more than `dfCap` documents are dropped entirely.
    */
  private def invertedIndex(sh: DataFrame, dfCap: Option[Long]): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    dfCap.fold(inv) { cap =>
      val keep = inv.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap)
        .select("s")
      inv.join(keep, "s")
    }
  }

  /** Distinct share-a-shingle candidate pairs under an optional df cap —
    * exposed so tests can pin that capping collapses the candidate volume
    * a boilerplate shingle would otherwise explode to C(df, 2).
    */
  def ngramCandidates(docs: DataFrame, dfCap: Option[Long] = None): DataFrame = {
    val inv = invertedIndex(shingleSets(docs), dfCap)
    inv.as("a")
      .join(inv.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact fixed-point Jaccard of candidate (doc_a, doc_b) pairs via the
    * inverted-hash co-occurrence count — the same verify contract as
    * [[nearDupPairs]] / [[ngramJaccardPairs]], factored for blocking
    * strategies that produce their candidates elsewhere.
    */
  private def jaccardVerify(
      sh: DataFrame, candidates: DataFrame, thresholdMilli: Int): DataFrame =
    jaccardVerifyHashed(hashedIndex(sh), shingleSizes(sh), candidates,
      thresholdMilli)

  /** The (doc_id, 8-byte shingle hash) index — seed -1 keeps this hash
    * family disjoint from the 64 signature seeds.
    */
  private def hashedIndex(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(lit(-1), col("s")).as("h"))

  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("shingles")).as("n"))

  /** Exact |A∩B| for every pair sharing at least one SUB-CAP shingle:
    * the capped index's self-join pair-count is the capped intersection
    * (shingles are distinct per doc), and the dropped stop-shingles'
    * postings are joined back onto just those candidate pairs to
    * complete the true uncapped count. Candidate volume is bounded by
    * C(cap,2)·|distinct shingles|; the correction term by
    * Σ_pair |dropped(A)|. Shared by the Jaccard and containment paths.
    * Returns the lazy plan plus the intermediate persisted frames (the
    * caller materializes and releases them — exposed separately so plan
    * tests can inspect the pre-materialization shape).
    */
  private[graft] def cappedIntersectionsPlan(
      sh: DataFrame, cap: Long): (DataFrame, Seq[DataFrame]) = {
    val inv = hashedIndex(sh)
    val freq = inv.groupBy("h").agg(count(lit(1)).as("df"))
    val invT = inv.join(freq, "h")
      .select(col("doc_id"), col("h"), (col("df") > cap).as("dropped"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val invC = invT.filter(!col("dropped"))
    val interCapped = invC.as("a")
      .join(invC.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val invD = invT.filter(col("dropped"))
    val interDropped = interCapped.select("doc_a", "doc_b")
      .join(invD.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(invD.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter_d"))
    val out = interCapped
      .join(interDropped, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        expr("inter_c + coalesce(inter_d, 0L)").as("inter"))
    (out, Seq(invT, interCapped))
  }

  /** [[cappedIntersectionsPlan]] plus the MASS-DUPLICATION exemption: a
    * document duplicated more than `cap` times has EVERY shingle above
    * the df cap, so the capped candidate stage alone would emit zero
    * pairs for it — silently missing exactly the highest-multiplicity
    * duplicates, the largest byte-savings targets. Pairs of documents
    * with identical shingle SETS ([[setKey]] equality) are therefore
    * routed around the cap entirely: their intersection is the full set
    * size by construction, at pure id-join cost. A near-but-not-exact
    * pair whose every shared shingle is 64+-doc template mass remains
    * out of scope by design (its overlap IS the template).
    *
    * The returned frame is materialized eagerly so the intermediate
    * index persists can be released here instead of leaking per
    * invocation in a long-lived session; the (output-sized) result
    * itself stays cached until the session's cache sweep.
    */
  private def cappedIntersections(sh: DataFrame, cap: Long): DataFrame = {
    val (inter, temps) = cappedIntersectionsPlan(sh, cap)
    val keyed = sh.select(col("doc_id"), setKey.as("k"),
      size(col("shingles")).cast("long").as("n"))
    val setPairs = keyed.as("a")
      .join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("inter"))
    // Both branches carry the exact uncapped intersection wherever they
    // overlap, so max() is a dedup, not a choice.
    val out = inter.union(setPairs)
      .groupBy("doc_a", "doc_b").agg(max("inter").as("inter"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    temps.foreach(_.unpersist(false))
    out
  }

  private def jaccardVerifyHashed(
      inv: DataFrame, sizes: DataFrame, candidates: DataFrame,
      thresholdMilli: Int): DataFrame = {
    candidates
      .join(inv.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        expr("(1000 * inter) div (na + nb - inter)").as("jaccard_milli"))
      .filter(col("jaccard_milli") >= thresholdMilli)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared DuckDB CTE prefix for the df-capped ngram dedup family
    * (`dedup_ngram`, `dedup_containment`, `dedup_source_matrix`,
    * `dedup_threshold_curve`, and the cluster family's pair graph):
    * tokenize → shingles → inverted index → df cap → candidates =
    * sub-cap shared-shingle pairs ∪ identical-shingle-set pairs (the
    * mass-duplication exemption, mirroring [[cappedIntersections]] —
    * set identity here is list_sort equality, the exact semantics the
    * Spark side's sorted-hash fingerprint approximates at ~2^-64).
    */
  private[operators] def cappedCandCtes(materialized: Boolean = false): String = {
    val M = if (materialized) " MATERIALIZED" else ""
    s"""tok AS$M (
       | SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents),
       |sh AS$M (
       | SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |  ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
       |  END AS shingles
       | FROM tok),
       |e AS$M (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |freq AS$M (SELECT s, count(*) AS df FROM e GROUP BY s),
       |cap AS (SELECT least(greatest(16, count(*) // 100), 64) AS cap FROM sh),
       |setp AS$M (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM sh a JOIN sh b
       |  ON md5(array_to_string(list_sort(a.shingles), chr(30))) =
       |     md5(array_to_string(list_sort(b.shingles), chr(30)))
       |  AND a.doc_id < b.doc_id),
       |cand AS$M (
       | SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
       |  JOIN freq f ON a.s = f.s
       |  WHERE f.df <= (SELECT cap FROM cap)
       |  UNION ALL SELECT doc_a, doc_b FROM setp) u)""".stripMargin
  }

  /** Exact-Jaccard oracle over the capped candidate CTEs — the
    * `dedup_ngram` gate SQL. */
  val DedupNgramOracleSql: String =
    s"""WITH ${cappedCandCtes()},
       |j AS (
       | SELECT c.doc_a, c.doc_b,
       |  (1000 * len(list_intersect(x.shingles, y.shingles)))
       |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard_milli
       | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id)
       |SELECT doc_a, doc_b, CAST(jaccard_milli AS BIGINT) AS jaccard_milli
       |FROM j WHERE jaccard_milli >= 600 ORDER BY doc_a, doc_b""".stripMargin

  /** LSH false-negative audit — the recall contract between the exact
    * n-gram view and the probabilistic MinHash stage, as a gated query
    * instead of a one-off test: for every exact near-dup pair (the
    * df-capped + set-exempted `dedup_ngram` view), the MODELED miss
    * probability of the ${Bands}×${RowsPerBand} banding —
    * `(1 − J^r)^b` evaluated as an exact integer ppm chain (`acc ←
    * acc·(10⁶ − J²_ppm) div 10⁶`, `b` steps; both engines run the
    * identical chain, no float pow) — plus the MEASURED outcome (is the
    * pair in [[nearDupPairs]]' output), bucketed per 100-milli Jaccard
    * band. `missed_pairs` hashing to zero IS the gate: any LSH recall
    * regression (band-key bug, over-aggressive bucket cap) fails this
    * query's hash, while `miss_ppm_max` reads off how much margin the
    * banding has at the threshold boundary (≈0.64³² ppm at J=600 —
    * sub-ppm, which is why zero measured misses is the contract and not
    * luck).
    *
    * Scale: both pair machines are the hard-bounded ones (df ceiling /
    * bucket cap); everything downstream is output-sized arithmetic.
    */
  def lshMissAudit(
      s: SparkSession, dir: String, thresholdMilli: Int = 600): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exact = frozenPairs(s, dir)
      .filter(col("jaccard_milli") >= thresholdMilli)
    val found = nearDupPairs(docs, thresholdMilli)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    exact
      .join(found, Seq("doc_a", "doc_b"), "left")
      .select(
        col("jaccard_milli"),
        coalesce(col("hit"), lit(0L)).as("hit"),
        expr(
          s"""aggregate(sequence(1, $Bands), CAST(1000000 AS BIGINT),
             |(acc, x) -> (acc * (1000000 - jaccard_milli * jaccard_milli))
             | div 1000000)""".stripMargin.replace("\n", " "))
          .as("miss_ppm"))
      .groupBy(expr("(jaccard_milli div 100) * 100").as("jaccard_bucket"))
      .agg(
        count(lit(1)).as("pairs"),
        sum("hit").as("found_pairs"),
        (count(lit(1)) - sum("hit")).as("missed_pairs"),
        sum("miss_ppm").as("miss_ppm_sum"),
        max("miss_ppm").as("miss_ppm_max"))
      .orderBy("jaccard_bucket")
  }

  /** Oracle: the exact capped-pair view (the `dedup_ngram` CTEs) with
    * the identical ppm chain; `found` is 1 by the recall contract the
    * gate enforces (exact-capped ⊆ LSH-found — a measured miss on the
    * Spark side hash-fails against this).
    */
  def lshMissAuditOracleSql(thresholdMilli: Int = 600): String =
    s"""WITH ${cappedCandCtes()},
       |j AS (
       | SELECT c.doc_a, c.doc_b,
       |  CAST((1000 * len(list_intersect(x.shingles, y.shingles)))
       |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS BIGINT)
       |   AS jaccard_milli
       | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id),
       |m AS (
       | SELECT jaccard_milli,
       |  list_reduce(
       |   list_prepend(CAST(1000000 AS BIGINT),
       |    list_transform(range($Bands),
       |     i -> CAST(1000000 - jaccard_milli * jaccard_milli AS BIGINT))),
       |   (acc, x) -> (acc * x) // 1000000) AS miss_ppm
       | FROM j WHERE jaccard_milli >= $thresholdMilli)
       |SELECT (jaccard_milli // 100) * 100 AS jaccard_bucket,
       | count(*) AS pairs,
       | count(*) AS found_pairs,
       | CAST(0 AS BIGINT) AS missed_pairs,
       | CAST(sum(miss_ppm) AS BIGINT) AS miss_ppm_sum,
       | CAST(max(miss_ppm) AS BIGINT) AS miss_ppm_max
       |FROM m GROUP BY 1 ORDER BY jaccard_bucket""".stripMargin

  /** Batch membership convention shared with `dedup_incremental`:
    * doc_id % 10 >= 8 is the "incoming batch", the rest the standing
    * corpus snapshot.
    */
  private def batchPred(id: Column): Column = id % 10 >= 8

  /** Incremental NEAR-dup probe — the nightly-crawl shape: only pairs
    * involving at least one batch document are found, and only batch
    * postings ever PROBE the index. Where `dedup_incremental` answers
    * "is this batch doc an exact duplicate of the snapshot",
    * this answers the near-dup version of the same question without
    * re-running the corpus×corpus self-join the full `dedup_ngram`
    * pays.
    *
    * Scale shape: candidate generation joins the BATCH slice of the
    * df-capped hashed inverted index against the full capped index —
    * volume Σ_s df_batch(s)·df(s) ≤ cap·|batch postings|, linear in the
    * batch and independent of snapshot², vs the full self-join's
    * C(cap,2)·|vocabulary|. Each qualifying pair is emitted exactly once
    * by construction (the probe side is batch-only; a batch partner
    * counts only when its id is higher, a corpus partner always). The
    * df-cap correction join and the identical-set mass-duplication
    * exemption mirror [[cappedIntersections]], restricted to the probe:
    * every emitted Jaccard is the exact uncapped value. Output is the
    * pair list with its class — `corpus_batch` (stale content re-served
    * by a feed) vs `batch_batch` (intra-crawl duplication).
    */
  def incrementalNearDups(
      docs: DataFrame, thresholdMilli: Int, cap: Long): DataFrame = {
    val sh = shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val inv = hashedIndex(sh)
    val freq = inv.groupBy("h").agg(count(lit(1)).as("df"))
    val invT = inv.join(freq, "h")
      .select(col("doc_id"), col("h"), (col("df") > cap).as("dropped"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val invC = invT.filter(!col("dropped"))
    val once = // each pair once: batch partners only upward, corpus always
      col("b.doc_id") > col("a.doc_id") || !batchPred(col("b.doc_id"))
    val interCapped = invC.filter(batchPred(col("doc_id"))).as("a")
      .join(invC.as("b"), col("a.h") === col("b.h") && once)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val invD = invT.filter(col("dropped"))
    val interDropped = interCapped.select("doc_a", "doc_b")
      .join(invD.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(invD.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_d"))
    val interIdx = interCapped.join(interDropped, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        expr("inter_c + coalesce(inter_d, 0L)").as("inter"))
    val keyed = sh.select(col("doc_id"), setKey.as("k"),
      size(col("shingles")).cast("long").as("n"))
    val setPairs = keyed.filter(batchPred(col("doc_id"))).as("a")
      .join(keyed.as("b"), col("a.k") === col("b.k") && once)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.n").as("inter"))
    val inter = interIdx.union(setPairs)
      .groupBy("doc_a", "doc_b").agg(max("inter").as("inter"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    inter.count() // materialize so the index persists can be released now
    invT.unpersist(false); interCapped.unpersist(false)
    val sizes = shingleSizes(sh)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("(1000 * inter) div (na + nb - inter)").as("jaccard_milli"))
      .filter(col("jaccard_milli") >= thresholdMilli)
      .withColumn("pair_class",
        when(batchPred(col("doc_a")) && batchPred(col("doc_b")),
          lit("batch_batch")).otherwise(lit("corpus_batch")))
      .orderBy("doc_a", "doc_b")
  }

  def dedupIncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    incrementalNearDups(docs, 600, defaultDfCap(docs.count()))
  }

  /** Oracle: the shared capped-candidate CTEs filtered to batch-involving
    * pairs — the full-corpus candidate set restricted is exactly the
    * probe-generated set.
    */
  val DedupIncrementalNearDupOracleSql: String =
    s"""WITH ${cappedCandCtes()},
       |bc AS (SELECT doc_a, doc_b FROM cand
       | WHERE doc_a % 10 >= 8 OR doc_b % 10 >= 8),
       |j AS (
       | SELECT c.doc_a, c.doc_b,
       |  (1000 * len(list_intersect(x.shingles, y.shingles)))
       |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard_milli
       | FROM bc c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id)
       |SELECT doc_a, doc_b, CAST(jaccard_milli AS BIGINT) AS jaccard_milli,
       | CASE WHEN doc_a % 10 >= 8 AND doc_b % 10 >= 8 THEN 'batch_batch'
       |  ELSE 'corpus_batch' END AS pair_class
       |FROM j WHERE jaccard_milli >= 600 ORDER BY doc_a, doc_b""".stripMargin

  /** Stop-shingle audit for the df-capped inverted index: how many
    * distinct shingles exceed [[defaultDfCap]], how many index postings
    * they carry, and the candidate-pair volume (Σ C(df,2)) the cap
    * avoids — the 100 TB quadratic-bomb meter surfaced next to the
    * dedup results so a template-heavy corpus is visible, not silent.
    */
  def ngramStopShingles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cap = defaultDfCap(docs.count())
    // The audit reports counts, never shingle text — so the df aggregate
    // keys on the 8-byte hash (same collision model as the dedup path)
    // and the exchange carries longs, not variable-length strings. The
    // persist before the explode is LOAD-BEARING, not a cache nicety:
    // exploding a COMPUTED array column re-evaluates the construction
    // expression inside the interpreted Generate path roughly once per
    // output element (measured 66 s vs 0.5 s from materialized arrays
    // at sf1) — every shingle consumer must explode from a materialized
    // frame.
    hashedIndex(shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK))
      .groupBy("h")
      .agg(count(lit(1)).as("df"))
      .agg(
        count(lit(1)).as("distinct_shingles"),
        sum(when(col("df") > cap, 1L).otherwise(0L)).as("dropped_shingles"),
        sum(when(col("df") > cap, col("df")).otherwise(0L))
          .as("dropped_postings"),
        sum(when(col("df") > cap, expr("(df * (df - 1)) div 2"))
          .otherwise(0L)).as("avoided_candidates"))
      .select(lit(cap).as("df_cap"), col("distinct_shingles"),
        col("dropped_shingles"), col("dropped_postings"),
        col("avoided_candidates"))
  }

  val NgramStopShinglesOracleSql: String =
    """WITH tok AS (
      | SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
      |sh AS (
      | SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |  ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      |  END AS shingles
      | FROM tok),
      |cap AS (SELECT least(greatest(16, count(*) // 100), 64) AS cap FROM sh),
      |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |freq AS (SELECT s, count(*) AS df FROM e GROUP BY s)
      |SELECT (SELECT cap FROM cap) AS df_cap,
      | count(*) AS distinct_shingles,
      | CAST(sum(CASE WHEN df > (SELECT cap FROM cap) THEN 1 ELSE 0 END) AS BIGINT)
      |  AS dropped_shingles,
      | CAST(sum(CASE WHEN df > (SELECT cap FROM cap) THEN df ELSE 0 END) AS BIGINT)
      |  AS dropped_postings,
      | CAST(sum(CASE WHEN df > (SELECT cap FROM cap)
      |  THEN (df * (df - 1)) // 2 ELSE 0 END) AS BIGINT) AS avoided_candidates
      |FROM freq""".stripMargin

  /** Threshold-sensitivity curve for the Jaccard dedup bar: bucket the
    * exact pair volume by jaccard_milli (100-milli buckets from 300 up)
    * with the cumulative count at-or-above each bucket — the artifact
    * that answers "how many more pairs does lowering the bar to 0.5
    * admit" BEFORE re-running the pipeline at each candidate threshold.
    * One extra pass over the same capped-candidate + exact-verify
    * machinery; the cumulative rollup is an 8-row self-join.
    */
  def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    val pairs = frozenPairs(s, dir) // store floor == this sweep's 300

    val hist = pairs
      .select(expr("(jaccard_milli div 100) * 100").as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("pairs_in_bucket"))
    hist.as("a")
      .join(hist.as("b"), col("b.bucket_lo") >= col("a.bucket_lo"))
      .groupBy(col("a.bucket_lo").as("threshold_milli"))
      .agg(max(col("a.pairs_in_bucket")).as("pairs_in_bucket"),
        sum(col("b.pairs_in_bucket")).as("pairs_at_or_above"))
      .orderBy("threshold_milli")
  }

  val DedupThresholdCurveOracleSql: String =
    s"""WITH ${cappedCandCtes()},
      |j AS (
      | SELECT c.doc_a, c.doc_b,
      |  (1000 * len(list_intersect(x.shingles, y.shingles)))
      |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard_milli
      | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id),
      |h AS (
      | SELECT (jaccard_milli // 100) * 100 AS bucket_lo, count(*) AS pairs_in_bucket
      | FROM j WHERE jaccard_milli >= 300 GROUP BY 1)
      |SELECT a.bucket_lo AS threshold_milli,
      | CAST(max(a.pairs_in_bucket) AS BIGINT) AS pairs_in_bucket,
      | CAST(sum(b.pairs_in_bucket) AS BIGINT) AS pairs_at_or_above
      |FROM h a JOIN h b ON b.bucket_lo >= a.bucket_lo
      |GROUP BY a.bucket_lo ORDER BY threshold_milli""".stripMargin

  /** Banding-configuration tuning curve: for each (bands × rows) split of
    * the 64-element signature, the modeled catch probability
    * `1 − (1 − J^r)^b` of every EXACT pair (from the capped sub-threshold
    * view, floor 300 milli), aggregated per 100-milli Jaccard bucket —
    * the S-curve table that justifies (or retunes) the shipped 32×2
    * banding against the corpus's OWN pair-volume profile instead of a
    * textbook curve. All probabilities are the same exact integer ppm
    * chains as [[lshMissAudit]] (both engines run them identically), so
    * the min/sum readouts are hashable, not float-drifty.
    *
    * Read: at the 600 bar, 32×2 catches ~everything while 8×8 visibly
    * drops threshold-boundary pairs; at a hypothetical 400 bar the table
    * says which config would still hold recall. One extra arithmetic
    * pass over the threshold-curve pair machinery; 4×|buckets| rows.
    */
  def lshBandCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = frozenPairs(s, dir) // store floor == this sweep's 300
    val cfgs = Seq((64, 1), (32, 2), (16, 4), (8, 8))
      .map { case (b, r) => (s"${b}x$r", b, r) }
      .toDF("band_cfg", "bands", "rows_per_band")
    pairs
      .crossJoin(broadcast(cfgs))
      .withColumn("j_ppm", col("jaccard_milli") * lit(1000L))
      .withColumn("p_band_ppm", expr(
        """aggregate(sequence(1, rows_per_band), CAST(1000000 AS BIGINT),
          |(acc, x) -> (acc * j_ppm) div 1000000)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("catch_ppm", expr(
        """1000000 - aggregate(sequence(1, bands), CAST(1000000 AS BIGINT),
          |(acc, x) -> (acc * (1000000 - p_band_ppm)) div 1000000)"""
          .stripMargin.replace("\n", " ")))
      .groupBy(
        col("band_cfg"),
        expr("(jaccard_milli div 100) * 100").as("jaccard_bucket"))
      .agg(
        count(lit(1)).as("pairs"),
        min("catch_ppm").as("catch_ppm_min"),
        sum("catch_ppm").as("catch_ppm_sum"))
      .orderBy("band_cfg", "jaccard_bucket")
  }

  def lshBandCurveOracleSql(): String =
    s"""WITH ${cappedCandCtes()},
       |j AS (
       | SELECT c.doc_a, c.doc_b,
       |  CAST((1000 * len(list_intersect(x.shingles, y.shingles)))
       |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS BIGINT)
       |   AS jaccard_milli
       | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id),
       |cfg AS (SELECT * FROM (VALUES
       | ('64x1', 64, 1), ('32x2', 32, 2), ('16x4', 16, 4), ('8x8', 8, 8))
       | AS t(band_cfg, bands, rpb)),
       |pb AS (
       | SELECT cfg.band_cfg, cfg.bands, j.jaccard_milli,
       |  list_reduce(
       |   list_prepend(CAST(1000000 AS BIGINT),
       |    list_transform(range(cfg.rpb),
       |     k -> CAST(j.jaccard_milli * 1000 AS BIGINT))),
       |   (a, x) -> (a * x) // 1000000) AS p_band
       | FROM j CROSS JOIN cfg WHERE j.jaccard_milli >= 300),
       |m AS (
       | SELECT band_cfg, (jaccard_milli // 100) * 100 AS jaccard_bucket,
       |  1000000 - list_reduce(
       |   list_prepend(CAST(1000000 AS BIGINT),
       |    list_transform(range(bands), i -> CAST(1000000 - p_band AS BIGINT))),
       |   (a, x) -> (a * x) // 1000000) AS catch_ppm
       | FROM pb)
       |SELECT band_cfg, jaccard_bucket, count(*) AS pairs,
       | CAST(min(catch_ppm) AS BIGINT) AS catch_ppm_min,
       | CAST(sum(catch_ppm) AS BIGINT) AS catch_ppm_sum
       |FROM m GROUP BY 1, 2 ORDER BY band_cfg, jaccard_bucket""".stripMargin

  /** Per-source shingle novelty: the share of each source's shingle
    * occurrences whose FIRST corpus appearance (min doc_id — a
    * deterministic ingestion-order attribution) is in that very
    * document. Low novelty means the feed mostly re-serves content the
    * corpus already has even when no single pair clears the dedup bar —
    * the sub-threshold redundancy meter next to `dedup_source_matrix`'s
    * pair counts. The first-occurrence aggregate and its re-join key on
    * the 8-byte shingle hash (same collision model as the verify
    * counts), so nothing wider than (doc_id, hash) crosses an exchange;
    * |sources| output rows.
    */
  def sourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val inv = hashedIndex(sh)
    val first = inv.groupBy("h").agg(min("doc_id").as("first_doc"))
    val perDoc = inv.join(first, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("novel"))
    perDoc.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum("n").as("shingles"),
        sum("novel").as("novel_shingles"))
      .select(
        col("source"), col("docs"),
        col("shingles").cast("long").as("shingles"),
        col("novel_shingles").cast("long").as("novel_shingles"),
        expr("(1000 * novel_shingles) div shingles").as("novelty_milli"))
      .orderBy("source")
  }

  val SourceNoveltyOracleSql: String =
    """WITH tok AS (
      | SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
      |sh AS (
      | SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |  ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      |  END AS shingles
      | FROM tok),
      |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |f AS (SELECT s, min(doc_id) AS first_doc FROM e GROUP BY s),
      |p AS (
      | SELECT e.doc_id, count(*) AS n,
      |  sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS novel
      | FROM e JOIN f ON e.s = f.s GROUP BY e.doc_id)
      |SELECT d.source, count(*) AS docs,
      | CAST(sum(p.n) AS BIGINT) AS shingles,
      | CAST(sum(p.novel) AS BIGINT) AS novel_shingles,
      | CAST((1000 * sum(p.novel)) // sum(p.n) AS BIGINT) AS novelty_milli
      |FROM p JOIN documents d USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Containment near-dup pairs — the asymmetric companion to Jaccard:
    * `containment = |A∩B| / min(|A|,|B|)` flags a short document embedded
    * in a long one (quote-and-extend plagiarism, boilerplate wrapping)
    * where Jaccard stays low because the union is dominated by the long
    * side. Candidates and the intersection count reuse the exact
    * inverted-index machinery ([[ngramJaccardPairs]]); both metrics ride
    * the same aggregate, so the marginal cost over Jaccard dedup is two
    * integer divisions. Emitted: every pair with containment ≥
    * `thresholdMilli` (Jaccard alongside for triage).
    */
  def containmentPairs(
      docs: DataFrame,
      thresholdMilli: Int = 900,
      dfCap: Option[Long] = None): DataFrame = {
    val sh = shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val inter = dfCap match {
      // Capped candidates + exact uncapped intersection, exactly the
      // [[ngramJaccardPairs]] machinery — the sf1 rehearsal measured the
      // exhaustive path superlinear (exponent 1.18) on a template-heavy
      // corpus, and containment's candidate stage has the same C(df,2)
      // exposure as Jaccard's.
      case Some(cap) => cappedIntersections(sh, cap)
      case None =>
        val inv = invertedIndex(sh, None)
        inv.as("a")
          .join(inv.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
    }
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        expr("(1000 * inter) div least(na, nb)").as("containment_milli"),
        expr("(1000 * inter) div (na + nb - inter)").as("jaccard_milli"))
      .filter(col("containment_milli") >= thresholdMilli)
      .orderBy("doc_a", "doc_b")
  }

  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    containmentPairs(docs, dfCap = Some(defaultDfCap(docs.count())))
  }

  val ContainmentOracleSql: String =
    s"""WITH ${cappedCandCtes()},
      |j AS (
      | SELECT c.doc_a, c.doc_b,
      |  len(list_intersect(x.shingles, y.shingles)) AS inter,
      |  len(x.shingles) AS na, len(y.shingles) AS nb
      | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id)
      |SELECT doc_a, doc_b,
      | CAST((1000 * inter) // least(na, nb) AS BIGINT) AS containment_milli,
      | CAST((1000 * inter) // (na + nb - inter) AS BIGINT) AS jaccard_milli
      |FROM j WHERE (1000 * inter) // least(na, nb) >= 900
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Sorted-neighborhood blocking — the THIRD candidate-generation
    * strategy next to banded LSH (probabilistic) and the full inverted
    * index (exact): documents sort per language by a normalized text
    * prefix, and only pairs within `window` positions of that order are
    * candidates, then the standard exact-Jaccard verify runs. The classic
    * record-linkage trade: candidate volume is a hard `window`·n bound
    * (predictable at 100 TB where an inverted index's C(df,2) is not),
    * at the cost of missing near-dups whose edit lands in the first 24
    * normalized characters. The global sort position comes from
    * [[RankOps.withHierarchicalRank]] (bucket-parallel — NO
    * single-partition window), and the neighborhood pairing is a banded
    * equi-join on `rank div window` (each left row probes its own and the
    * next band), never a rank-range nested loop.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      window: Int = 10,
      thresholdMilli: Int = 600): DataFrame = {
    val keyed = docs.select(
      col("doc_id"), col("lang"),
      substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 24)
        .as("bkey"))
    val ranked = RankOps.withHierarchicalRank(
      keyed, Seq("lang"), "bkey", "doc_id", "ascii(substr(bkey, 1, 1))", "rn")
    val side = ranked.select(
      col("doc_id"), col("lang"), col("rn"),
      expr(s"rn div $window").as("band"))
    val probes = side.select(
      col("doc_id").as("id_a"), col("lang"), col("rn").as("rn_a"),
      explode(array(col("band"), col("band") + 1)).as("band"))
    val cand = probes
      .join(
        side.select(
          col("doc_id").as("id_b"), col("lang"), col("rn").as("rn_b"),
          col("band")),
        Seq("lang", "band"))
      .filter((col("rn_b") - col("rn_a")).between(lit(1), lit(window)))
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
    // Persist: the verify reads the shingle frame twice (inverted index
    // + sizes) — uncached, the corpus would tokenize twice more.
    jaccardVerify(
      shingleSets(docs).persist(StorageLevel.MEMORY_AND_DISK),
      cand, thresholdMilli)
  }

  def dedupSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(Tables.documents(s, dir))

  /** Cross-source near-duplication matrix: the exact n-gram-Jaccard
    * pairs ([[ngramJaccardPairs]]) rolled up to (source, source) cells —
    * the mixture-level contamination readout a curation pipeline reads
    * before weighting sources (heavy off-diagonal mass means two feeds
    * re-serve the same content and their quotas double-count). Pair
    * volume is the dedup pair set, so the rollup rides two dimension
    * joins and a &#124;sources&#124;²-bounded aggregate.
    */
  def dedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    frozenPairs(s, dir).filter(col("jaccard_milli") >= 600)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard_milli"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("pairs"),
        expr("sum(jaccard_milli) div count(*)").as("avg_jaccard_milli"))
      .orderBy("source_a", "source_b")
  }

  val DedupSourceMatrixOracleSql: String =
    s"""WITH ${cappedCandCtes()},
      |j AS (
      | SELECT c.doc_a, c.doc_b,
      |  (1000 * len(list_intersect(x.shingles, y.shingles)))
      |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard_milli
      | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id),
      |p AS (
      | SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b, jaccard_milli
      | FROM j JOIN documents da ON j.doc_a = da.doc_id
      |  JOIN documents db ON j.doc_b = db.doc_id
      | WHERE jaccard_milli >= 600)
      |SELECT source_a, source_b, count(*) AS pairs,
      | CAST(sum(jaccard_milli) // count(*) AS BIGINT) AS avg_jaccard_milli
      |FROM p GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** Native per-lang row_number + rank-distance join + list-based Jaccard
    * — independent formulations of all three stages.
    */
  val SortedNeighborhoodOracleSql: String =
    """WITH k AS (
      | SELECT doc_id, lang,
      |  substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS bkey
      | FROM documents),
      |r AS (
      | SELECT doc_id, lang,
      |  row_number() OVER (PARTITION BY lang ORDER BY bkey, doc_id) AS rn
      | FROM k),
      |cand AS (
      | SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
      |  greatest(a.doc_id, b.doc_id) AS doc_b
      | FROM r a JOIN r b
      |  ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 10),
      |tok AS (
      | SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
      |sh AS (
      | SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |  ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      |  END AS shingles
      | FROM tok),
      |j AS (
      | SELECT c.doc_a, c.doc_b,
      |  (1000 * len(list_intersect(x.shingles, y.shingles)))
      |   // len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard_milli
      | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id)
      |SELECT doc_a, doc_b, CAST(jaccard_milli AS BIGINT) AS jaccard_milli
      |FROM j WHERE jaccard_milli >= 600 ORDER BY doc_a, doc_b""".stripMargin
}
