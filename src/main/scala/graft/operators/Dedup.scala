package graft.operators

import graft.functions.vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for an LLM-training-data pipeline:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design (the point of every method here): no operator ever
  * materializes the O(n²) pair space. Candidate generation is always
  * through a *blocking key* — content digest, shared n-gram, LSH band
  * signature, SimHash band — so the shuffle volume stays ~O(n·b). At
  * 100 TB the digests/signatures are uniformly distributed, so the
  * hash-partitioned shuffles have no planner-visible skew; the one
  * data-driven skew source (hot n-grams shared by millions of docs) is
  * handled by stop-gram removal (`maxGramDf`, standard prefix-filter).
  */
object Dedup {

  /** Exact dedup: canonical md5 digest → min-id survivor per digest.
    * One hash-partitioned aggregation; digest keys are uniform so no
    * skew at any scale. (Reference has no dedup — this extends its
    * transform stage; see SURVEY.md §2c.)
    */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), TextAnalysis.fingerprintMd5(col(text)).as("digest"))
      .groupBy("digest")
      .agg(min(col(id)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles from a MATERIALIZED token-array
    * column; empty array when < n tokens.
    *
    * `toks` must be a bound attribute (project `TextAnalysis.tokens`
    * first), never the tokens expression inline: higher-order
    * functions run interpreted with no common-subexpression
    * elimination, so an inline expression would re-tokenize the whole
    * document for every `element_at` of every gram — O(tokens²) regex
    * work per row (measured 100×+ slowdown).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Project id + passthrough (expr → name) + exploded shingle grams. */
  private def explodedGrams(docs: DataFrame, id: String, text: String,
      n: Int, passthrough: Seq[(Column, String)] = Nil): DataFrame =
    docs.select((col(id).as("id") +: passthrough.map { case (c, a) => c.as(a) } :+
        TextAnalysis.tokens(col(text)).as("toks")): _*)
      .select((col("id") +: passthrough.map { case (_, a) => col(a) } :+
        explode(shingles(col("toks"), n)).as("gram")): _*)

  /** Exact n-gram Jaccard near-dup pairs via an inverted index
    * (explode shingles → self-join on shared gram) with blocking:
    * only pairs sharing `block` and within `lenBand` of length are
    * considered. `maxGramDf` drops grams occurring in more than that
    * many docs before the join (prefix-filter / stop-gram removal) —
    * ON BY DEFAULT: it is the guard that keeps the gram self-join from
    * going quadratic on a hot gram ("the quick") shared by millions of
    * real-corpus docs. Union sizes still use the full gram sets so
    * Jaccard is only *under*-estimated (never a false positive);
    * `maxGramDf = 0` disables for exact-oracle runs. Docs sharing ONLY
    * stop-grams lose their candidate pair — by construction those have
    * jaccard < maxGramDf-docs/union, far below any useful minJaccard.
    */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
      block: String, len: String, lenBand: Int,
      n: Int = 3, minJaccard: Double = 0.2, maxGramDf: Long = 10000L): DataFrame = {
    // materialize the exploded grams ONCE (persist): the plan below is
    // a diamond — the a-side, b-side, and doc-size subtrees all
    // consume it, and without the materialization each would re-run
    // the whole tokenize→shingle→explode pipeline (the dominant cost).
    // persist(), NOT a lazy localCheckpoint: a lazily-checkpoint-marked
    // RDD consumed by several racing stages (one of them a broadcast
    // exchange) deadlocks the DAG scheduler on the global
    // RDDCheckpointData lock — observed live on this exact diamond.
    // At cluster scale this is the standard persisted intermediate of
    // an inverted-index build.
    val g = explodedGrams(docs, id, text, n,
      Seq(col(block) -> "blk", col(len).cast(LongType) -> "len"))
      .persist()
    val pruned =
      if (maxGramDf > 0L) {
        val hot = g.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxGramDf).select("gram")
        g.join(broadcast(hot), Seq("gram"), "left_anti")
      } else g
    val sizes = g.groupBy("id").agg(count(lit(1)).as("sz")) // grams are distinct per doc
    val a = pruned.select(col("blk"), col("gram"),
      col("id").as("id_a"), col("len").as("len_a"))
    val b = pruned.select(col("blk"), col("gram"),
      col("id").as("id_b"), col("len").as("len_b"))
    val inter = a.join(b, Seq("blk", "gram"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= lenBand)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter")).cast(DoubleType), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(A→B) = |grams(A) ∩
    * grams(B)| / |grams(A)| — the doc-in-doc signal. Jaccard misses
    * inclusion (a page quoted inside a 100× larger page has tiny
    * union-normalized similarity but containment ≈ 1), so corpus
    * dedup needs both. Same inverted-index diamond as
    * [[ngramJaccardPairs]] (persisted gram base, stop-gram pruning
    * bounding the self-join, block key) but deliberately NO length
    * band — containment is precisely about different-length pairs.
    * Sizes use the full gram sets, so pruning only under-estimates
    * (no false positives). Emits both directions' containment per
    * candidate pair; a pair survives if either direction clears
    * `minContainment`.
    */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      block: String, n: Int = 3, minContainment: Double = 0.5,
      maxGramDf: Long = 10000L): DataFrame = {
    val g = explodedGrams(docs, id, text, n, Seq(col(block) -> "blk"))
      .persist()
    try {
      val pruned =
        if (maxGramDf > 0L) {
          val hot = g.groupBy("gram").agg(count(lit(1)).as("df"))
            .filter(col("df") > maxGramDf).select("gram")
          g.join(broadcast(hot), Seq("gram"), "left_anti")
        } else g
      val sizes = g.groupBy("id").agg(count(lit(1)).as("sz"))
      val inter = pruned.select(col("blk"), col("gram"), col("id").as("id_a"))
        .join(pruned.select(col("blk"), col("gram"), col("id").as("id_b")),
          Seq("blk", "gram"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast(DoubleType) / col("sz_a").cast(DoubleType), 6).as("cont_ab"),
          round(col("inter").cast(DoubleType) / col("sz_b").cast(DoubleType), 6).as("cont_ba"))
        .filter(greatest(col("cont_ab"), col("cont_ba")) >= minContainment)
        // materialize the bounded pair set, then release the gram base
        .localCheckpoint(true)
    } finally { g.unpersist(false) }
  }

  /** MinHash signatures. Permutation i is a rotate-xor mix of TWO base
    * hashes: hᵢ = rol(h1, aᵢ) ^ rol(h2, bᵢ) ^ cᵢ with h1 =
    * xxhash64(gram), h2 = xxhash64(gram, 1) and per-i constants from a
    * fixed seed ⇒ deterministic across runs/partitionings. Each hᵢ is a
    * distinct full-rank GF(2)-linear image of 128 iid-uniform bits, so
    * the mixes are uniform and pairwise independent up to one parity
    * bit — empirically indistinguishable from independent re-hashes for
    * min-wise use (recall floor enforced by RecallSpec). Cost: 2
    * xxhash64 evaluations per gram + ~8 bitwise ops per permutation,
    * vs numPerm full xxhash64 evaluations before — and every op is
    * ANSI-safe (no multiply/add overflow, unlike Carter–Wegman).
    * Returns (id, h0..h{numPerm-1}).
    */
  /** (id, grams: array<string>) — the tokenize+shingle base both the
    * signature and the exact-verification paths consume. (A hashed-
    * shingle variant — token-hash arrays recombined with xxhash64
    * inside a nested lambda — was measured SLOWER than the string
    * form: interpreted HOFs box every element access, and the extra
    * allocation cost outweighs the saved string concat.)
    */
  private[graft] def gramArrays(docs: DataFrame, id: String, text: String, n: Int): DataFrame =
    docs.select(col(id).as("id"), TextAnalysis.tokens(col(text)).as("toks"))
      .select(col("id"), shingles(col("toks"), n).as("grams"))

  private[graft] def signaturesFromGrams(grams: DataFrame, numPerm: Int): DataFrame =
    sigsFromGramRows(grams.select(col("id"), explode(col("grams")).as("gram")), numPerm)

  /** Signature core over an already-exploded (id, gram) frame — shared
    * by the array-based path above and the weighted replica expansion
    * ([[weightedMinhashSignatures]]), whose gram stream never exists
    * as a per-doc array.
    */
  private def sigsFromGramRows(gramRows: DataFrame, numPerm: Int): DataFrame = {
    require(numPerm <= 4096, "at most 64×64 distinct rotation pairs")
    val g = gramRows
      .withColumn("h1", xxhash64(col("gram")))
      .withColumn("h2", xxhash64(col("gram"), lit(1)))
    def rol(c: Column, r: Int): Column =
      if (r % 64 == 0) c
      else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
    // distinct (aᵢ, bᵢ) rotation pairs — a collision would give two
    // permutations differing only by an xor constant (correlated mins)
    val rnd = new scala.util.Random(0x9E3779B97C15L)
    val rotPairs = rnd.shuffle((for (a <- 0 until 64; b <- 0 until 64) yield (a, b)).toVector)
    val aggs = (0 until numPerm).map { i =>
      val (a, b) = rotPairs(i)
      min(rol(col("h1"), a).bitwiseXOR(rol(col("h2"), b))
        .bitwiseXOR(lit(rnd.nextLong()))).as(s"h$i")
    }
    g.groupBy("id").agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  def minhashSignatures(docs: DataFrame, id: String, text: String,
      numPerm: Int = 64, n: Int = 3): DataFrame =
    signaturesFromGrams(gramArrays(docs, id, text, n), numPerm)

  /** All ordered pairs (a<b) from a sorted id array — in-bucket pair
    * expansion for LSH buckets, O(B²) per bucket on arrays that are
    * already tiny by construction.
    */
  private def pairCombos(sortedIds: Column): Column =
    flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + 2, greatest(size(sortedIds) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))

  /** LSH banding over MinHash signatures: docs agreeing on all rows of
    * any band become candidate pairs. Signatures are computed ONCE:
    * ids are collected per (band, bandSig) bucket and pairs expanded
    * in-bucket — a self-join would recompute the whole
    * tokenize→shingle→minhash pipeline for each side (no exchange
    * reuse across join inputs). Bucket keys are uniform 64-bit hashes
    * ⇒ balanced at any scale; `maxBucket` drops degenerate buckets
    * (boilerplate-heavy corpora) the way stop-grams are dropped in the
    * inverted-index path.
    */
  /** Collapse a (id, h0..h{numPerm-1}) signature frame to its banded
    * form: (id, band, sig) with one 64-bit bucket key per band — the
    * storable/joinable LSH shape ([[graft.streaming.IncrementalDedup]]
    * persists exactly this frame as the historical signature store).
    */
  private[graft] def bandSigs(sig: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rows = numPerm / bands
    val bandCols = (0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        xxhash64((bi * rows until (bi + 1) * rows).map(i => col(s"h$i")): _*).as("sig"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("sig"))
  }

  /** Banded MinHash signatures straight from documents: (id, band, sig). */
  def bandedSignatures(docs: DataFrame, id: String, text: String,
      numPerm: Int = 64, bands: Int = 16, n: Int = 3): DataFrame =
    bandSigs(minhashSignatures(docs, id, text, numPerm, n), numPerm, bands)

  /** Explode a sorted-id-array frame into its (id_a, id_b) pairs,
    * through the native [[graft.functions.LongArrayPairs]] kernel when
    * the element type is long (every id column in the corpus paths) —
    * the interpreted nested-transform expansion pays a closure
    * dispatch plus an O(B) `slice` copy per element, O(B²) copies per
    * bucket, measured as a multi-second cost at 5M-pair candidate
    * volumes. Same pair set, same a<b order on sorted input.
    */
  private[graft] def explodeIdPairs(buckets: DataFrame, idsCol: String): DataFrame = {
    val et = buckets.schema(idsCol).dataType.asInstanceOf[ArrayType].elementType
    val pc =
      if (et == LongType) graft.functions.pairs.longArrayPairs(col(idsCol))
      else pairCombos(col(idsCol))
    buckets.select(explode(pc).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
  }

  /** Candidate pairs from an already-banded (id, band, sig) frame:
    * collect per (band, sig) bucket, bound by maxBucket, expand
    * in-bucket — the shared candidate generator for every banded-LSH
    * path (array signatures, weighted replicas, the incremental store
    * probe's intra-batch half).
    */
  private[graft] def candidatesFromBanded(banded: DataFrame, maxBucket: Int): DataFrame =
    explodeIdPairs(
      banded.groupBy(col("band"), col("sig"))
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")).between(2, maxBucket))
        .select(sort_array(col("ids")).as("ids")),
      "ids")
      .distinct()

  /** Exact n-gram Jaccard verification of candidate (id_a, id_b) pairs
    * against a materialized (id, grams) base — the shared verify join
    * of the MinHash paths. Returns (id_a, id_b, j) with j ≥ minJaccard.
    */
  private[graft] def verifyGramJaccard(cand: DataFrame, grams: DataFrame,
      minJaccard: Double): DataFrame =
    cand
      .join(grams.select(col("id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("grams").as("gb")), "id_b")
      .withColumn("j", gramJaccard(col("ga"), col("gb")))
      .filter(col("j") >= minJaccard)
      .select("id_a", "id_b", "j")

  /** Exact Jaccard of two distinct-gram arrays. */
  private[graft] def gramJaccard(ga: Column, gb: Column): Column =
    size(array_intersect(ga, gb)).cast(DoubleType) / size(array_union(ga, gb)).cast(DoubleType)

  private def lshCandidatesFromSigs(sig: DataFrame, numPerm: Int,
      bands: Int, maxBucket: Int): DataFrame =
    candidatesFromBanded(bandSigs(sig, numPerm, bands), maxBucket)

  def minhashLshCandidates(docs: DataFrame, id: String, text: String,
      numPerm: Int = 64, bands: Int = 16, n: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    lshCandidatesFromSigs(minhashSignatures(docs, id, text, numPerm, n),
      numPerm, bands, maxBucket)

  /** LSH candidates verified with exact n-gram Jaccard ≥ minJaccard:
    * (id_a, id_b, j) edges for clustering.
    *
    * The (id, grams) base is materialized ONCE (persist) and consumed
    * three times — signature building plus both sides of the
    * verification join. Without the materialization each consumer
    * re-runs the tokenize→shingle pipeline, the dominant cost of the
    * whole operator; at cluster scale this is the standard persisted
    * shingle-set intermediate of a MinHash dedup run. (persist, not a
    * lazy localCheckpoint — see [[ngramJaccardPairs]] on the
    * checkpoint-lock deadlock.)
    */
  def minhashVerifiedPairs(docs: DataFrame, id: String, text: String,
      minJaccard: Double = 0.8, numPerm: Int = 64, bands: Int = 16,
      n: Int = 3): DataFrame = {
    val grams = gramArrays(docs, id, text, n).persist()
    val cand = lshCandidatesFromSigs(signaturesFromGrams(grams, numPerm),
      numPerm, bands, maxBucket = 1000)
    verifyGramJaccard(cand, grams, minJaccard)
  }

  /** MinHash-LSH dedup: one survivor (the min id) per connected
    * component of verified near-dup pairs — transitive closure via
    * [[connectedComponents]], so A~B, B~C collapse to one doc even
    * when A~C was never a candidate pair.
    */
  def minhashDedupSurvivors(docs: DataFrame, id: String, text: String,
      minJaccard: Double = 0.8, numPerm: Int = 64, bands: Int = 16,
      n: Int = 3): DataFrame =
    survivorsByCluster(docs, id,
      minhashVerifiedPairs(docs, id, text, minJaccard, numPerm, bands, n))

  /** Per-doc token multiset with counts capped at `cap`: (id, token,
    * w). The weighted-Jaccard base frame — capping bounds the replica
    * expansion AND matches retrieval practice (tf saturates; a page
    * repeating one word 500× is not 500× more similar to itself).
    */
  private def weightedTokenFrame(docs: DataFrame, id: String, text: String,
      cap: Int): DataFrame =
    docs.select(col(id).as("id"), explode(TextAnalysis.tokens(col(text))).as("token"))
      .groupBy(col("id"), col("token"))
      .agg(least(count(lit(1)), lit(cap.toLong)).as("w"))

  /** Weighted MinHash signatures via integer replica expansion: token
    * t with capped count w becomes grams t#1..t#w, then the standard
    * rotate-xor MinHash runs over the expanded multiset. For integer
    * weights this makes the collision probability EXACTLY the weighted
    * Jaccard Σmin(wa,wb)/Σmax(wa,wb) (plain MinHash over the replica
    * union/intersection) — the provable discrete special case of ICWS,
    * without ICWS's per-(feature,perm) gamma draws. Cost: stream is
    * Σw ≤ cap·|tokens| gram rows into the same map-side min partial
    * agg as the unweighted path — no per-doc array materialization.
    */
  def weightedMinhashSignatures(docs: DataFrame, id: String, text: String,
      numPerm: Int = 64, cap: Int = 16): DataFrame =
    sigsFromGramRows(
      weightedTokenFrame(docs, id, text, cap)
        .withColumn("r", explode(sequence(lit(1L), col("w"))))
        .select(col("id"), concat_ws("#", col("token"), col("r")).as("gram")),
      numPerm)

  /** LSH candidates over the weighted signatures — same banding as
    * the unweighted path; collision rate tracks weighted Jaccard.
    */
  def wminhashCandidates(docs: DataFrame, id: String, text: String,
      numPerm: Int = 63, bands: Int = 21, cap: Int = 16,
      maxBucket: Int = 1000): DataFrame =
    lshCandidatesFromSigs(weightedMinhashSignatures(docs, id, text, numPerm, cap),
      numPerm, bands, maxBucket)

  /** Weighted-MinHash candidates verified with the EXACT capped
    * weighted Jaccard Σmin/Σmax from the token-count frame — (id_a,
    * id_b, wj) pairs. The tf frame is materialized once (persist) and
    * consumed three times: replica-expanded signatures plus both
    * verification sides; the result eagerly checkpoints before the
    * cache releases (the Dedup.containment discipline). Catches the
    * near-dups plain MinHash over-merges: set-identical docs with very
    * different term frequencies score 1.0 unweighted but Σmin/Σmax
    * weighted.
    */
  def wminhashVerifiedPairs(docs: DataFrame, id: String, text: String,
      minWJaccard: Double = 0.5, numPerm: Int = 63, bands: Int = 21,
      cap: Int = 16): DataFrame = {
    val tf = weightedTokenFrame(docs, id, text, cap).persist()
    try {
      val cand = lshCandidatesFromSigs(
        sigsFromGramRows(
          tf.withColumn("r", explode(sequence(lit(1L), col("w"))))
            .select(col("id"), concat_ws("#", col("token"), col("r")).as("gram")),
          numPerm),
        numPerm, bands, maxBucket = 1000)
      // Verification joins each candidate pair to TWO per-doc sorted
      // (token, w) arrays and computes Σmin in one native merge pass
      // ([[graft.functions.WeightedIntersect]]) — the per-token form
      // exploded every pair into tokens-of-a join rows (measured 5.3M
      // candidates × ~tokens ≈ 70M-row shuffle, 20s of a 23s run;
      // this shape shuffles O(pairs + docs) rows). icap > 0 keeps the
      // old inner-join-on-shared-token semantics; the wj double is the
      // same two integers divided, so results are bit-identical.
      val docArr = tf.groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("token"), col("w")))).as("tw"),
          sum(col("w")).as("tot"))
      cand
        .join(docArr.select(col("id").as("id_a"), col("tw").as("ta"),
          col("tot").as("tot_a")), "id_a")
        .join(docArr.select(col("id").as("id_b"), col("tw").as("tb"),
          col("tot").as("tot_b")), "id_b")
        .withColumn("icap", graft.functions.pairs.weightedIntersect(col("ta"), col("tb")))
        .filter(col("icap") > 0L)
        .withColumn("wj", col("icap").cast(DoubleType) /
          (col("tot_a") + col("tot_b") - col("icap")).cast(DoubleType))
        .filter(col("wj") >= minWJaccard)
        .select(col("id_a"), col("id_b"), col("wj"))
        .localCheckpoint(true)
    } finally tf.unpersist()
  }

  /** Crawl-shard boundary-overlap pairs: doc A's LAST k tokens equal
    * doc B's FIRST k tokens — the shard-stitching artifact none of the
    * whole-doc near-dup members target. The join key is the overlap
    * string itself (verification is inherent); a ≤maxDf frequency
    * guard per fingerprint side blocks boilerplate-key skew. Docs
    * shorter than 2k tokens are excluded. Linear: one partial-agg per
    * side + one equi-join.
    */
  def boundaryOverlapPairs(docs: DataFrame, id: String, text: String,
      k: Int = 8, maxDf: Int = 50): DataFrame = {
    val toks = docs
      .select(col(id).as("did"), TextAnalysis.tokens(col(text)).as("w"))
      .filter(size(col("w")) >= 2 * k)
      .select(col("did"),
        concat_ws(" ", slice(col("w"), 1, k)).as("head_fp"),
        concat_ws(" ", slice(col("w"), -k, k)).as("tail_fp"))
      .localCheckpoint(true)
    def guard(df: DataFrame): DataFrame = {
      val freq = df.groupBy(col("fp")).agg(count(lit(1)).as("f")).filter(col("f") <= maxDf)
      df.join(freq.select(col("fp")), "fp")
    }
    val tails = guard(toks.select(col("did").as("id_a"), col("tail_fp").as("fp")))
    val heads = guard(toks.select(col("did").as("id_b"), col("head_fp").as("fp")))
    tails.join(heads, "fp")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("fp").as("overlap"))
  }

  /** Edit-distance near-dup pairs for SHORT text fields (names,
    * titles): levenshtein ≤ maxDist inside a blocking column, with the
    * |lenₐ−len_b| ≤ maxDist lower bound applied before the quadratic
    * distance. In-block pairing is O(block²), so this is the
    * tight-block/short-field member of the near-dup family (product
    * names per brand, titles per publisher) — for whole documents use
    * [[minhashLshCandidates]]/[[simhash]], whose candidate generation
    * stays ~linear. Exact, deterministic, and SQL-expressible, so the
    * whole pipeline is oracle-checkable (`dedup_editdist`).
    */
  def editDistancePairs(docs: DataFrame, id: String, text: String,
      block: String, maxDist: Int = 2): DataFrame = {
    val base = docs.select(col(id).as("id"), col(text).as("t"), col(block).as("blk"))
      .withColumn("len", length(col("t")))
    val a = base.select(col("blk"), col("id").as("id_a"), col("t").as("t_a"), col("len").as("len_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("t").as("t_b"), col("len").as("len_b"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** 64-bit SimHash over word n-gram shingles: per-bit ±1 vote summed
    * per doc (one wide partial aggregation — map-side combined, no raw
    * doc shuffle), sign → bit. Returns (id, simhash: long).
    */
  def simhash(docs: DataFrame, id: String, text: String, n: Int = 2): DataFrame = {
    val g = explodedGrams(docs, id, text, n)
      .withColumn("g64", xxhash64(col("gram")))
    val aggs = (0 until 64).map { j =>
      sum(when(shiftright(col("g64"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$j")
    }
    val bitSums = g.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val packed = (0 until 64)
      .map(j => when(col(s"b$j") > 0L, lit(1L << j)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    bitSums.select(col("id"), packed.as("simhash"))
  }

  /** SimHash near-dup candidate pairs with Hamming ≤ maxHamming,
    * found via 4×16-bit bands (pigeonhole: any pair within Hamming 3
    * agrees exactly on ≥1 band ⇒ recall 1.0 for maxHamming ≤ 3).
    */
  def simhashCandidates(sig: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val bandCols = (0 until 4).map { bi =>
      struct(lit(bi).as("band"),
        shiftright(col("simhash"), bi * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val banded = sig.select(col("id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("b.band").as("band"), col("b.key").as("key"),
        struct(col("id"), col("simhash")).as("doc"))
    // collect per bucket + in-bucket expansion: computes `sig` once
    // (a self-join would evaluate its whole pipeline per side)
    banded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")).between(2, maxBucket))
      .select(explode(pairCombos(col("docs"))).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash")))
          .cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Resolve undirected candidate-pair edges into connected
    * components: iterative min-label propagation. Returns
    * (id, cluster) with cluster = min id in the component.
    *
    * Scale shape: each iteration is one join + one min-aggregation,
    * both hash-partitioned on id — no driver-side graph. Labels only
    * decrease, so `sum(label)` is a cheap monotone convergence
    * signal; near-dup components have tiny diameters, so iterations
    * ≈ 3–5 in practice. `localCheckpoint` cuts the growing lineage
    * (standard for iterative DataFrame algorithms).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    // materialize the edge list once — every iteration joins it, and
    // without the checkpoint each join would re-run the (potentially
    // expensive) candidate-pair pipeline that produced `pairs`.
    // Both edge directions come from ONE explode pass over `pairs`,
    // not a union of two selects: a self-union is a diamond that
    // evaluates the whole candidate pipeline once per branch.
    val edges = pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    // convergence signal in unbounded decimal: a long sum could
    // ANSI-overflow on 64-bit ids at scale. SUM over zero rows is SQL
    // NULL — map it to zero so a pair-free corpus (no near-dups found)
    // converges on the first check instead of NPE-ing
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("cluster").cast(DecimalType(38, 0)))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    // initial labels fold the FIRST propagation step into the same
    // aggregation that would otherwise just distinct the ids:
    // label₀(v) = min(v, min(neighbors)) — one iteration's worth of
    // jobs saved, identical fixpoint.
    //
    // ONE Spark job per iteration: each iteration's labels are
    // persist()ed and the labelSum action both populates the cache and
    // computes the monotone convergence signal — an eager checkpoint
    // followed by a separate sum action would double the job count.
    // persist, NOT a lazy localCheckpoint: lazily-checkpoint-marked
    // RDDs racing the DAG scheduler deadlock on the global
    // RDDCheckpointData lock (observed live). Lineage depth grows by a
    // constant per iteration on top of the checkpointed edge list and
    // is bounded by maxIter; superseded iterations are unpersisted.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), min(col("src"))).as("cluster"))
      .persist()
    var prevSum = labelSum(labels)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster"))
      val next0 = msgs.unionByName(labels.select(col("id"), col("cluster")))
        .groupBy("id").agg(min(col("cluster")).as("cluster"))
      // `labels` feeds BOTH the join and the union, so the logical
      // plan DOUBLES per iteration — a long-diameter component (a
      // giant co-purchase component needs ~10 rounds) grows a 2^k-node
      // plan whose analysis alone OOMs the driver (observed: 2 GB plan
      // strings at sf0.01). Truncate lineage with an EAGER
      // localCheckpoint every 3rd round; other rounds keep the cheap
      // persist (1 job/iteration). Never a LAZY localCheckpoint here —
      // multi-consumer lazy checkpoints deadlock the DAG scheduler on
      // the RDDCheckpointData lock (SKILL gotcha).
      val next = if ((i + 1) % 3 == 0) next0.localCheckpoint(true)
        else next0.persist()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist(false)
      labels = next
      i += 1
    }
    labels
  }

  /** Cluster-aware dedup: keep one doc (the min id) per connected
    * component of verified near-dup pairs — the transitive closure the
    * greedy pairwise removal approximates.
    */
  def survivorsByCluster(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val removed = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(id))
    docs.join(removed, Seq(id), "left_anti")
  }

  /** Embedding near-dup pairs: cosine ≥ minCos within a blocking
    * column. In-block pairing is O(block²) — only use this form when
    * the caller KNOWS blocks are small (a pre-clustered corpus); for
    * anything content-derived use [[embeddingNearDupPairsLsh]], whose
    * hyperplane buckets stay small by construction.
    */
  def embeddingNearDupPairs(emb: DataFrame, id: String, vec: String,
      block: String, minCos: Double): DataFrame = {
    val a = emb.select(col(block).as("blk"), col(id).as("id_a"), col(vec).as("v_a"))
    val b = emb.select(col(block).as("blk"), col(id).as("id_b"), col(vec).as("v_b"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(vector.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-dup pairs at scale: random-hyperplane LSH buckets
    * (Similarity.hyperplaneBuckets) as the blocking key — the pair
    * space is Σ bucket² with uniform, tunable bucket sizes (2^bits
    * buckets per band), never O(block²) on a data-driven key like a
    * label. Candidates agreeing on ANY band are verified with exact
    * cosine, so precision is exact and only recall depends on the LSH
    * parameters: for cos ≥ 0.95 (θ ≈ 18°), P(bit agrees) ≈ 0.9, so a
    * pair survives a band of 8 bits w.p. ≈ 0.43 and misses all 8
    * bands w.p. ≈ 0.57⁸ ≈ 1% — recall ≈ 99% at 256 buckets/band.
    * `maxBucket` drops degenerate buckets (near-constant embedding
    * regions), same role as stop-grams in the inverted-index path.
    */
  def embeddingNearDupPairsLsh(emb: DataFrame, id: String, vec: String,
      dim: Int, minCos: Double, bits: Int = 8, bands: Int = 8,
      maxBucket: Int = 1000, seed: Long = 7L): DataFrame = {
    val base = emb.select(col(id).as("id"), col(vec).as("v"))
    val bucketed = Similarity.hyperplaneBuckets(base, "v", dim, bits, bands, seed)
    val bandCols = (0 until bands).map(bi =>
      struct(lit(bi).as("band"), col(s"bucket_$bi").as("key")))
    val cand = explodeIdPairs(bucketed
      .select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("b.band").as("band"), col("b.key").as("key"), col("id"))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket)), "ids")
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cos", round(vector.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    * cluster the embedding space with spherical k-means (sampled
    * training + ONE map-only assignment pass — Similarity.assignCells),
    * then compare pairs only WITHIN a cluster cell. The paper's
    * observation: semantic duplicates concentrate inside k-means
    * clusters, so intra-cluster comparison finds them at a tiny
    * fraction of the O(n²) cost.
    *
    * Scale shape: choose nCells ∝ corpus/target-cell-size so cells
    * stay bounded (the paper runs 50k clusters over LAION); in-cell
    * pair expansion goes through the same sorted-ids + pairCombos
    * path as the LSH blocker, with `maxCell` dropping degenerate
    * cells. vs LSH blocking: cells ADAPT to the data distribution
    * (recall concentrates where the data does); the cost is the
    * training sample and that boundary pairs straddling two cells are
    * missed — quantified by the recall floor in DedupSpec.
    */
  def semanticNearDupPairs(emb: DataFrame, id: String, vec: String,
      dim: Int, minCos: Double, nCells: Int = 16,
      maxCell: Int = 100000, sampleN: Int = 4096): DataFrame = {
    val base = emb.select(col(id).as("id"), col(vec).as("v"))
    val assigned = Similarity.assignCells(base, "v", dim, nCells, sampleN)
    val cand = explodeIdPairs(assigned
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxCell)), "ids")
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cos", round(vector.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** CORPUS-WIDE line-level dedup (the Dolma/CCNet paragraph-dedup
    * pass — boilerplate headers, nav bars, and license blocks repeat
    * across pages even when no two documents are near-dups): keep the
    * FIRST occurrence (lowest (doc, position)) of every distinct
    * non-blank line, drop repeats everywhere else, and reassemble each
    * document's surviving lines in order. Docs whose every line was a
    * repeat survive with empty text (row count is preserved).
    *
    * Scale shape: explode to lines, then first occurrence per
    * normalized line via groupBy + min(struct(id, pos)) — a PARTIAL
    * (map-side) aggregation, so a hot boilerplate line repeated on
    * billions of pages collapses to one candidate row per map task
    * before the shuffle instead of funneling every copy into a single
    * window partition (the skewed-key straggler a row_number form
    * creates at corpus scale). Winners semi-join back against the
    * lines on the composite (norm, id, pos) key — uniform even when
    * the line alone is skewed — then one shuffle on the doc id where
    * sort_array(collect_list(struct(pos, line))) restores order
    * without a global sort. O(total lines) throughout; no pairwise
    * anything, no single-key window.
    */
  def lineDedup(docs: DataFrame, id: String, text: String): DataFrame = {
    val lines = docs
      .select(col(id).as("__id"), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .withColumn("__norm", lower(trim(col("line"))))
    // min(struct(id, pos)) orders fields lexicographically, matching
    // the first-occurrence rule "lowest (doc, position) wins".
    val winners = lines
      .groupBy(col("__norm"))
      .agg(min(struct(col("__id"), col("pos"))).as("w"))
      .select(col("__norm").as("__wnorm"), col("w.__id").as("__wid"), col("w.pos").as("__wpos"))
    val kept = lines
      .join(winners,
        col("__norm") === col("__wnorm") && col("__id") === col("__wid") &&
          col("pos") === col("__wpos"),
        "left_semi")
      .groupBy(col("__id"))
      .agg(concat_ws("\n",
        transform(sort_array(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("__kept"))
    docs.join(kept, col(id) === col("__id"), "left")
      .select(col(id), coalesce(col("__kept"), lit("")).as(text))
  }

  /** EXACT word-set similarity self-join via prefix filtering — the
    * PPJoin family (Xiao et al., WWW'08) beside the lossy-bounded
    * [[ngramJaccardPairs]]: instead of pruning hot grams (which
    * under-estimates Jaccard), sort every doc's token set by GLOBAL
    * rarity and index only each set's PREFIX — the first
    * |s| − ⌈τ·|s|⌉ + 1 rarest tokens. Two sets with Jaccard ≥ τ MUST
    * share a prefix token (pigeonhole), so the candidate set is
    * complete and the join result is exact; the oracle hash-proves
    * this against the naive any-shared-token pair census.
    *
    * Scale shape: the inverted index contains only prefixes, and the
    * rare-first canonical order concentrates it on low-df tokens —
    * the hot-token quadratic blowup lands on exactly the tokens the
    * prefix excludes. The integer length filter (den·|y| ≥ num·|x|)
    * prunes at the index row; candidate ids dedupe BEFORE token
    * arrays are fetched (two hash joins on the O(pairs) frame, never
    * arrays through the index join); τ-threshold decisions are all
    * integer arithmetic (⌈τn⌉ = (num·n + den−1) div den,
    * den·c ≥ num·(union)) so no IEEE boundary can disagree between
    * engines.
    *
    * τ arrives as the exact rational tauNum/tauDen so every pruning
    * decision stays integer; `block` scopes the join (dedup within a
    * feed/language — on a templated corpus whole-set similarity is
    * high CORPUS-WIDE, so the unblocked pair space is quadratic in
    * genuinely-similar docs; blocking bounds it the same way every
    * other operator in this file does). Returns (a, b, jaccard) with
    * a < b.
    */
  def prefixJaccardPairs(docs: DataFrame, id: String, text: String,
      block: String, tauNum: Long = 4L, tauDen: Long = 5L): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, s"tau must be in (0,1]: $tauNum/$tauDen")
    val toks = docs.select(col(id).as("id"), col(block).as("blk"),
      array_distinct(filter(split(lower(col(text)), "[^a-z]+"),
        w => length(w) >= 2)).as("ws"))
    val tokDf = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    // canonical rare-first order: (df asc, w asc) is a deterministic
    // total order, so every set's sorted form (and prefix) is unique
    // the canonical (df, w) struct array is KEPT (not projected to bare
    // tokens): both sides of a candidate pair are sorted by the same
    // global (df asc, w asc) total order, so the verify intersection is
    // one native merge pass (SortedCommonCount) instead of a per-pair
    // hash-set array_intersect — df is a function of w, so the common
    // (df, w) count equals the common-token count exactly
    val sorted = toks.select(col("id"), col("blk"), explode(col("ws")).as("w"))
      .join(tokDf, "w")
      .groupBy(col("id"), col("blk"))
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("arr"))
      .withColumn("n", size(col("arr")).cast(LongType))
      .localCheckpoint(true) // diamond: prefix index + two array fetches
    val pref = sorted
      .withColumn("p", expr(
        s"cast(n - ($tauNum * n + ${tauDen - 1}) div $tauDen + 1 as int)"))
      .select(col("id"), col("blk"), col("n"),
        explode(expr("transform(slice(arr, 1, p), x -> x.w)")).as("w"))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.w") === col("y.w") && col("x.blk") === col("y.blk") &&
          col("x.id") < col("y.id") &&
          lit(tauDen) * col("y.n") >= lit(tauNum) * col("x.n") &&
          lit(tauDen) * col("x.n") >= lit(tauNum) * col("y.n"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    cand
      .join(sorted.select(col("id").as("a"), col("arr").as("ta"), col("n").as("na")), "a")
      .join(sorted.select(col("id").as("b"), col("arr").as("tb"), col("n").as("nb")), "b")
      .withColumn("c", graft.functions.pairs.sortedCommonCount(col("ta"), col("tb")))
      .filter(lit(tauDen) * col("c") >= lit(tauNum) * (col("na") + col("nb") - col("c")))
      .select(col("a"), col("b"),
        round(col("c").cast(DoubleType) /
          (col("na") + col("nb") - col("c")).cast(DoubleType), 6).as("jaccard"))
      .orderBy(col("a"), col("b"))
  }
}
