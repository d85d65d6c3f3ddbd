package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants follow the same scale shape: a narrow per-row signature
  * projection (codegen'd, no UDFs), then ONE shuffle keyed by the signature
  * (or band bucket), with map-side partial aggregation. Candidate
  * verification joins are always bounded by bucket size, never all-pairs.
  */
object Dedup {

  /** Exact dedup: group by content hash. Returns one row per duplicate
    * GROUP: (sig, n, keep_id, dup_ids) where `dup_ids` is CAPPED at
    * `maxDupIds` (the smallest ids; `n` still counts all copies). The cap is
    * enforced in the AGGREGATION BUFFER via [[graft.functions.BoundedMinList]]
    * — not post-hoc on an unbounded collect_list — so a viral document
    * duplicated 10^8 times costs its reducer O(maxDupIds) memory, not an OOM. */
  def exact(df: DataFrame, textCol: String, idCol: String, maxDupIds: Int = 100): DataFrame =
    df.select(md5(col(textCol)).as("sig"), col(idCol).as("id"))
      .groupBy("sig")
      .agg(count(lit(1)).as("n"), min("id").as("keep_id"),
        // keep_id is always the global min, so it is IN the bounded list;
        // filtering it out leaves ≤ maxDupIds duplicates, sorted ascending
        graft.functions.BoundedMinList.bounded_min_list(col("id"), maxDupIds + 1).as("ids"))
      .filter(col("n") > 1)
      .select(col("sig"), col("n"), col("keep_id"),
        filter(col("ids"), _ =!= col("keep_id")).as("dup_ids"))

  /** The pipeline output form of exact dedup: the corpus with duplicates
    * dropped, keeping the smallest id per content group. ONE shuffle keyed by
    * the content hash, skew-proof: `min_by` partial-aggregates map-side, so a
    * hot duplicate contributes at most one candidate row per map task —
    * unlike a `row_number` window, which would serialize every copy of a hot
    * hash into a single task (the straggler/spill anti-pattern at 100 TB).
    * `idCol` must uniquely identify rows. */
  def dropExactDups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("__sig"))
      .agg(min_by(struct(df.columns.toSeq.map(col): _*), col(idCol)).as("__r"))
      .select(col("__r.*"))

  /** Word-level shingles of size `k`, distinct, lowercased — native
    * single-pass expression (graft.functions.WordShingles). */
  def shingles(textCol: Column, k: Int): Column =
    graft.functions.VecFunctions.word_shingles(textCol, k)

  /** MinHash signature: `numHashes` derived permutations over one base hash
    * per shingle — a custom Catalyst expression (graft.functions.MinHashSig)
    * doing the whole signature in one JVM loop per row. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.VecFunctions.minhash_sig(shinglesCol, numHashes)

  /** band_hash columns: hash of the signature slice for each band (bands
    * is a compile-time constant → unrolled, stays inside codegen). The ONE
    * derivation shared by the batch LSH, the incremental-against ops, AND
    * the streaming near-dup state key (StreamValidate calls this directly)
    * — band keys can never drift between them. */
  private[graft] def bandHashCols(sigCol: String, numHashes: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = numHashes / bands
    (0 until bands).map { b =>
      xxhash64(array_join(transform(slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand),
        _.cast(StringType)), ","))
    }
  }

  /** MinHash + LSH near-dup candidate pairs.
    *
    * Pipeline: shingle → minhash(numHashes) → split into `bands` bands of
    * rows `numHashes/bands` → one shuffle on (band_idx, band_hash) → pairs
    * within buckets → estimated Jaccard from full signatures ≥ `threshold`.
    *
    * At 100 TB the only heavy op is the band-bucket shuffle; bucket sizes are
    * bounded by near-dup cluster sizes. A `maxBucket` guard drops
    * pathological buckets (boilerplate explosions) rather than letting one
    * reducer quadratically blow up — dropped bucket count is reported by the
    * caller via the returned frame's `oversized` marker rows being absent
    * (count them with the companion stats if needed).
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    // handle-less form: the internal signature cache self-releases after
    // the first materializing action (see graft.AutoRelease); multi-pass
    // consumers should use the Cached variant and release explicitly
    val (pairs, release) = minhashLshCached(df, textCol, idCol, numHashes,
      bands, shingleK, threshold, maxBucket)
    graft.AutoRelease.onFirstMaterialize(pairs, release)
  }

  /** [[minhashLsh]] plus a RELEASE handle for its internal signature cache —
    * the composed-pipeline form. The signature frame must be persisted (the
    * band explode and both pair re-joins read it), but a bare `persist()`
    * with no owner accretes cache across multi-pass sessions. Call the
    * handle once the returned pairs are fully materialized (afterwards the
    * pairs frame can still recompute from source if partitions are lost —
    * release only drops the cached blocks). */
  def minhashLshCached(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1000): (DataFrame, () => Unit) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // persisted: referenced by band explode AND the two signature re-joins —
    // without it every branch recomputes shingling+hashing from the text
    val sig = df.select(
      col(idCol).as("id"),
      minhashSignature(shingles(col(textCol), shingleK), numHashes).as("sig"))
      .filter(size(col("sig")) > 0 && !exists(col("sig"), _.isNull))
      .persist()

    // banded persisted TOO: it feeds the oversized-bucket aggregation AND
    // both sides of the candidate join — unpersisted, the band-hash kernel
    // (one string-join + xxhash64 per band per row) re-ran per consumer
    // (3×). At (id, band, band_hash) it is narrower than the already-cached
    // signature frame, and both caches ride the same release handle.
    val banded = sig.select(col("id"),
      posexplode(array(bandHashCols("sig", numHashes, bands): _*))
        .as(Seq("band", "band_hash")))
      .persist()

    // bucket join: candidates share (band, band_hash); self-join within
    // buckets, bounded by maxBucket. Only (id, band, band_hash) rides the
    // candidate shuffle — signatures re-attach to the deduped pairs.
    // oversized-bucket guard via groupBy + broadcast anti-join: cheaper and
    // more scalable than a window count (no per-partition sort), and the
    // oversized set is tiny by construction
    val oversized = banded.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("band", "band_hash")
    val bucketed = banded.join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")
    val l = bucketed.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = bucketed.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "band_hash")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")

    // estimated Jaccard = fraction of agreeing minhash slots (native expr)
    val pairs = candidates
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        graft.functions.VecFunctions.long_array_eq_count(col("sig_a"), col("sig_b"))
          .cast(DoubleType) / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
    (pairs, () => { sig.unpersist(); banded.unpersist(); () })
  }

  /** SimHash: 64-bit signature where bit i is the sign of the weighted sum of
    * shingle-hash bit i. Near-dups = signatures within `maxHamming`.
    * Banding on 4×16-bit chunks finds all pairs with hamming ≤ 3 exactly
    * (pigeonhole: at most 3 differing bits can't hit all 4 chunks). */
  def simhash(shinglesCol: Column): Column =
    graft.functions.VecFunctions.simhash64(shinglesCol)

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 3 with
    * the 4-chunk banding; raise chunks for larger radii). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      simhash(shingles(col(textCol), shingleK)).as("sim"))
      .persist() // branches: chunk explode, oversized counts, l/r pair joins
    // 4 chunks of 16 bits; candidates agree on ≥1 chunk
    val chunkCols = (0 until 4).map(c => shiftright(col("sim"), c * 16).bitwiseAND(0xFFFFL))
    val chunked = sig.select(col("id"), col("sim"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "chunk_val")))
    val oversized = chunked.groupBy("chunk", "chunk_val").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("chunk", "chunk_val")
    val bucketed = chunked.join(broadcast(oversized), Seq("chunk", "chunk_val"), "left_anti")
    val l = bucketed.select(col("chunk"), col("chunk_val"), col("id").as("id_a"), col("sim").as("sim_a"))
    val r = bucketed.select(col("chunk"), col("chunk_val"), col("id").as("id_b"), col("sim").as("sim_b"))
    l.join(r, Seq("chunk", "chunk_val")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram (word) Jaccard similarity for pairs within a blocking key —
    * standalone form with a cheap blocker (e.g. same source+lang). The
    * block-local self-join is QUADRATIC in block size, so `maxBlock` drops
    * pathological blocks (same groupBy + broadcast anti-join guard as
    * minhashLsh's oversized buckets) rather than letting one reducer go
    * cartesian — at 100 TB a (web, en) block is billions of rows. For
    * LSH-generated candidates use [[ngramJaccardFor]], which is linear in the
    * candidate count. Integer outputs (inter, uni) keep it oracle-exact.
    * `maxBlock = Int.MaxValue` means truly unbounded: the guard is skipped,
    * so no block is ever dropped. (Before the skip, the guard compared the
    * LONG block count against it, an implicit cap at 2^31 - 1 rows.) */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], shingleK: Int = 1, minJaccard: Double = 0.8,
      maxBlock: Int = 10000, minContainment: Option[Double] = None): DataFrame = {
    val base = df.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        shingles(col(textCol), shingleK).as("grams")): _*)
    // maxBlock == Int.MaxValue is the documented "unbounded" sentinel: no
    // block can be over the cap, so the guard pass — a full block-count
    // aggregation + broadcast anti-join that can never drop anything — is
    // skipped outright instead of computed to find an empty set.
    val guarded =
      if (maxBlock == Int.MaxValue) base
      else {
        // no silent caps: materialize the (tiny) over-cap key set ONCE (one
        // eager job — the price of visibility), count it for the warn, and
        // reuse the same frame in the anti-join so the block-count
        // aggregation never runs twice
        val keys = base.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBlock).select(blockCols.map(col): _*)
          .localCheckpoint(true)
        val dropped = keys.count()
        if (dropped > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"ngramJaccard: dropping $dropped block(s) larger than maxBlock=$maxBlock " +
              "(their pairs are NOT scored; use minhashLsh + ngramJaccardFor for hot blocks)")
        base.join(broadcast(keys), blockCols, "left_anti")
      }
    val l = guarded.select(blockCols.map(col) :+ col("id").as("id_a") :+ col("grams").as("g_a"): _*)
    val r = guarded.select(blockCols.map(col) :+ col("id").as("id_b") :+ col("grams").as("g_b"): _*)
    scorePairs(l.join(r, blockCols).filter(col("id_a") < col("id_b")), minJaccard, minContainment)
  }

  /** Exact n-gram Jaccard for a PRE-COMPUTED candidate-pair frame
    * (id_a, id_b) — the verification stage after [[minhashLsh]] /
    * [[simhashPairs]]. Linear in |candidates|: two hash joins re-attach the
    * gram sets, no self-join, no quadratic block risk. */
  def ngramJaccardFor(df: DataFrame, textCol: String, idCol: String,
      candidates: DataFrame, shingleK: Int = 1, minJaccard: Double = 0.8,
      minContainment: Option[Double] = None): DataFrame = {
    val grams = df.select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("grams"))
    val pairs = candidates.select("id_a", "id_b")
      .join(grams.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
    scorePairs(pairs, minJaccard, minContainment)
  }

  /** A pair passes on symmetric Jaccard ≥ minJaccard OR — when
    * `minContainment` is set — on containment ≥ minContainment, where
    * containment = inter / |smaller gram set|. The OR matters: an asymmetric
    * near-dup (a long doc quoting ALL of a short one) has containment 1.0
    * but Jaccard ≈ |short|/|long|, which the symmetric filter alone would
    * drop. Both thresholds use the multiply-form the DuckDB oracle
    * evaluates (IEEE-identical boundary). */
  private def scorePairs(pairs: DataFrame, minJaccard: Double,
      minContainment: Option[Double] = None): DataFrame = {
    val smaller = least(size(col("g_a")), size(col("g_b")))
    val jaccardPass =
      col("inter").cast(DoubleType) >= lit(minJaccard) * col("uni").cast(DoubleType)
    val pass = minContainment match {
      case Some(t) => jaccardPass ||
        col("inter").cast(DoubleType) >= lit(t) * smaller.cast(DoubleType)
      case None => jaccardPass
    }
    // size-ratio prefilter (Jaccard-only mode): J = I/U ≤ min(|a|,|b|)/
    // max(|a|,|b|) because I ≤ min and U ≥ max, so a pair whose sizes are
    // too lopsided can NEVER reach minJaccard — reject it on two size()
    // lookups before paying the O(|a|+|b|) hash-set intersect/union. The
    // inclusive ≥ keeps every boundary pair, so the output is bit-identical
    // (same multiply-form as the pass filter). Containment mode skips the
    // prefilter: a short doc fully contained in a long one is exactly the
    // lopsided pair that rule exists to keep.
    val sizeCompatible = minContainment match {
      case None =>
        least(size(col("g_a")), size(col("g_b"))).cast(DoubleType) >=
          lit(minJaccard) * greatest(size(col("g_a")), size(col("g_b"))).cast(DoubleType)
      case Some(_) => lit(true)
    }
    pairs
      .filter(sizeCompatible)
      // fused count-only kernel: bit-equal to size(array_intersect(g_a,g_b))
      // (incl. duplicate and null-element semantics) but never materializes
      // the intersection array — the verification path reads only the size
      .withColumn("inter",
        graft.functions.VecFunctions.array_intersect_count(col("g_a"), col("g_b")))
      // g_a/g_b come from word_shingles, which is per-document DISTINCT, so
      // |a ∪ b| = |a| + |b| − |a ∩ b| exactly — the arithmetic replaces a
      // second per-pair hash-set build that materialized the merged ARRAY
      // (O(|a|+|b|) strings allocated) just to take its size. Every caller
      // of this private helper attaches grams via shingles(); a non-distinct
      // gram source would break this identity, so keep that invariant.
      .withColumn("uni", size(col("g_a")) + size(col("g_b")) - col("inter"))
      .filter(col("uni") > 0 && pass)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        (col("inter").cast(DoubleType) / col("uni").cast(DoubleType)).as("jaccard"),
        when(smaller > 0,
          col("inter").cast(DoubleType) / smaller.cast(DoubleType))
          .otherwise(lit(0.0)).as("containment"))
  }

  /** Embedding near-dup: cosine ≥ threshold via LSH candidate buckets (see
    * [[Similarity.cosineLshPairs]]); re-exported here for discoverability. */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, bands: Int = 8, planesPerBand: Int = 4): DataFrame =
    Similarity.cosineLshPairs(df, vecCol, idCol, threshold, bands, planesPerBand)

  /** End-to-end EMBEDDING near-duplicate removal: sign-LSH cosine candidate
    * pairs → connected components → keep the smallest id per cluster. The
    * semantic-dedup counterpart of [[dropNearDups]]; schema preserved. */
  def dropEmbeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    val (lshPairs, releaseLsh) = Similarity.cosineLshPairsCached(
      df, vecCol, idCol, threshold, bands, planesPerBand, maxBucket)
    // the pair frame is read exactly ONCE — by ccEdges' init checkpoint —
    // so a persist here would only add a cache write; distinct by
    // construction (dropDuplicates upstream + equi-joins, id_a < id_b)
    val losers = componentLosers(lshPairs.select("id_a", "id_b"),
      pairsDistinct = true)
    releaseLsh()
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Duplicated text SPANS across documents — the boilerplate / repeated-
    * passage detector (and the contamination-analysis primitive): word
    * `spanWords`-grams appearing in ≥ `minDocs` DISTINCT documents.
    * `word_shingles` is per-document distinct, so the count after explode IS
    * document frequency. Returns (span, n_docs).
    *
    * Scale shape: the document-frequency aggregation is keyed by
    * `xxhash64(span)` — 8 bytes on the wire instead of the raw 10-word
    * string — so the big shuffle carries (hash, partial count) only. The
    * human-readable exemplar span re-attaches afterwards via a broadcast
    * join bounded by the (tiny) over-threshold set. The corpus is scanned
    * twice (count pass + exemplar pass); at scale two narrow scans beat one
    * string-keyed shuffle by ~the average span length. 64-bit hashing can in
    * principle merge two distinct spans (birthday bound ~2^-24 at 10^6
    * distinct spans) — acceptable for a frequency detector. */
  def duplicatedSpans(df: DataFrame, textCol: String,
      spanWords: Int = 10, minDocs: Int = 2): DataFrame = {
    val spans = df.select(explode(shingles(col(textCol), spanWords)).as("span"))
    val hot = spans.groupBy(xxhash64(col("span")).as("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    // join strategy left to AQE: a typical hot set is tiny (broadcast), but
    // a low minDocs over boilerplate-heavy data can make it millions of rows
    // — forcing broadcast() here would blow the broadcast limit exactly when
    // the detector finds the most (measured: 15 M hot spans at the 8 M-row
    // probe's all-duplicated worst case)
    spans.join(hot, xxhash64(col("span")) === col("h"))
      .groupBy(col("h"), col("n_docs")).agg(min(col("span")).as("span"))
      .select(col("span"), col("n_docs"))
  }

  /** Per-document boilerplate ratio: the fraction of a doc's spans that are
    * corpus-duplicated (≥ `minDocs` docs). High ratio ⇒ templated/boiler-
    * plate content — a standard quality-filter signal. Two aggregations and
    * one semi-join, all keyed by 64-bit span hashes (strings never shuffle);
    * no all-pairs anything. The (id, hash) projection is COMPUTED TWICE
    * (duplicate-set agg + semi-join) rather than persisted — the exploded
    * span set is usually LARGER than the corpus, so caching it would cost
    * more memory than re-running one narrow codegen'd scan. */
  def boilerplateRatio(df: DataFrame, textCol: String, idCol: String,
      spanWords: Int = 10, minDocs: Int = 2): DataFrame = {
    def spansH = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), spanWords)).as("span"))
      .select(col("id"), xxhash64(col("span")).as("h"))
    val dup = spansH.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minDocs).select("h")
    // per-doc span counts come from df directly (size of the shingle array,
    // no explode) so SHORT/NULL docs keep a row with n_spans=0 — the output
    // is one row per input document, as a per-document signal must be
    val perDoc = df.select(col(idCol).as("id"),
      greatest(coalesce(size(shingles(col(textCol), spanWords)), lit(0)), lit(0))
        .cast(LongType).as("n_spans"))
    val dupPerDoc = spansH.join(dup, Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_boiler"))
    perDoc.join(dupPerDoc, Seq("id"), "left")
      .na.fill(0L, Seq("n_boiler"))
      .select(col("id").as(idCol), col("n_spans"), col("n_boiler"),
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_boiler").cast(DoubleType) / col("n_spans")).as("boiler_ratio"))
  }

  /** Connected components over an undirected similar-pair frame
    * (`id_a`, `id_b`) → (`id`, `component` = min id reachable). Near-dup
    * PAIRS are not dedup GROUPS: a~b and b~c must collapse to one {a,b,c}
    * cluster with one survivor, so the pipeline needs the transitive closure.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the published
    * MapReduce-native CC):
    *  - large-star: every node links its LARGER neighbors to the minimum of
    *    its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors and itself to
    *    that minimum.
    * Each round is two (groupBy-min + join-back) passes; the edge set
    * converges to one star per component centered at the component's MINIMUM
    * id in O(log n) rounds — unlike min-label propagation's O(diameter),
    * which needs 1000 rounds for a 1000-chain (iterative crawls and
    * boilerplate chains produce exactly such paths). Convergence is detected
    * STRUCTURALLY: the alternation's fixed points are exactly the star
    * forests rooted at component minima (with the maintained src>dst
    * orientation: no node is both a child and a root, and every child has
    * exactly one root — one role-tagged groupBy per round). Detecting the
    * fixed point the round it is PRODUCED — instead of the round-5 form's
    * checksum equality across consecutive iterates — saves one full
    * large+small+checkpoint round per call (measured 0.4-0.7 s at the
    * sf0.1 fixture; the round is ~6 exchanges at any scale).
    *
    * LINEAGE DISCIPLINE: every round ends in localCheckpoint(eager) — a flat
    * LogicalRDD. persist() alone is NOT enough for iterative algorithms (the
    * cached plan still nests every previous round, so analysis cost
    * compounds; measured 1.6s → 8s by iteration 6 on a 300k-edge graph).
    * The previous round's block storage is freed as soon as the next is
    * materialized. On a cluster, swap localCheckpoint for reliable
    * checkpoint(dir) if executor loss mid-loop must be survivable.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      failOnNonConvergence: Boolean = false): DataFrame = {
    // every vertex mentioned in pairs gets a label, even if the star
    // transforms drop it (self-loops, singletons). LAZY on purpose: it is
    // only read by the final labels join, which is materialized while the
    // caller's `pairs` frame is still alive — computing it here as an eager
    // checkpoint (the round-5 form) paid one extra action + shuffle up
    // front for data the loop never touches.
    val vertices = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val (edges, converged) = ccEdges(pairs, maxIter, failOnNonConvergence)
    // fixed point = one star per component rooted at its min id: edges map
    // every non-root to its root; roots (and dropped singletons) label
    // themselves via the vertex left-join. When the loop CONVERGED, the
    // star-forest test just proved every src appears exactly once ("no child
    // has two roots"), so groupBy(src).min(dst) is the identity — read the
    // checkpointed edges directly and skip that exchange. A truncated run
    // keeps the min-agg so each id still gets exactly ONE label.
    val rootOf =
      if (converged) edges.select(col("src").as("id"), col("dst").as("__c"))
      else edges.groupBy(col("src").as("id")).agg(min("dst").as("__c"))
    val labels = vertices.join(rootOf, Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
      .localCheckpoint(true)
    freeLocalCheckpoint(edges)
    labels
  }

  /** The large-star/small-star loop of [[connectedComponents]], returning
    * the final CHECKPOINTED edge set plus whether it CONVERGED (the
    * star-forest test held — consumers may then rely on "one edge per src").
    * Every edge set in the loop (including the initial one) maintains the
    * src > dst orientation, so consumers may rely on it. Caller frees the
    * returned checkpoint via [[freeLocalCheckpoint]].
    *
    * `pairsDistinct`: the caller guarantees one row per unordered pair (the
    * LSH pipelines' verified frames are `dropDuplicates("id_a","id_b")` +
    * equi-joins + filters, and id_a < id_b strictly) — the initial
    * `.distinct()` exchange over |pairs| rows is skipped, since orientation
    * maps id_a < id_b to (src,dst) = (id_b,id_a) bijectively. A wrongly-set
    * flag costs at most ONE extra round (duplicate fanout fails the init
    * star test; smallStar's distinct restores the invariant), never
    * correctness — but set it only where provable. */
  private def ccEdges(pairs: DataFrame, maxIter: Int,
      failOnNonConvergence: Boolean,
      pairsDistinct: Boolean = false): (DataFrame, Boolean) = {
    // NO intermediate distinct: the round ends in smallStar's final
    // distinct, so the per-round edge SET — and with it the round count,
    // the star-forest test, and the labels — is unchanged (all downstream
    // aggregations are min/distinct, duplicate-insensitive). The removed
    // distinct's exchange carried the FULL |e| rows every round; dropping
    // it saves that exchange and one stage barrier per round, while the
    // duplicates that now ride smallStar's groupBy are absorbed by map-side
    // combine (measured: ProbeCcR06, labels asserted identical, CC call
    // 3.4→2.8 s / 2.8→2.4 s on the 139,714-pair fixture graph).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("__m"))
      sym.join(mins, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val orient = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val mins = orient.groupBy("src").agg(min("dst").as("__m"))
      val fromNbrs = orient.join(mins, Seq("src"))
        .filter(col("dst") =!= col("__m"))
        .select(col("dst").as("src"), col("__m").as("dst"))
      val fromSelf = mins.select(col("src"), col("__m").as("dst"))
      fromNbrs.union(fromSelf).distinct()
    }
    /** Fixed-point test: with the src>dst orientation both stars maintain,
      * the edge set is a star forest rooted at component minima iff no node
      * appears as both a child (src) and a root (dst), and no child carries
      * two roots. One role-tagged groupBy; runs over the freshly
      * checkpointed (cached) edge set, so it costs one small shuffle — and
      * unlike checksum-equality it fires the round the fixed point is
      * PRODUCED, not one wasted round later. */
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("src").as("n"), lit(0).as("role"))
        .union(e.select(col("dst").as("n"), lit(1).as("role")))
        .groupBy("n").agg(min("role").as("mn"), max("role").as("mx"),
          sum(lit(1) - col("role")).as("fanout"))
        .filter((col("mn") === 0 && col("mx") === 1) || col("fanout") > 1)
        .isEmpty

    // initial edges carry the same greatest→least orientation the loop
    // maintains (the graph is undirected; orientation also dedups a/b vs
    // b/a inputs and was measured FASTER through round 0 than the unoriented
    // round-5 form)
    val oriented = pairs.select(
        greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
    var edges = (if (pairsDistinct) oriented else oriented.distinct())
      .localCheckpoint(true)
    var iter = 0
    var converged = isStarForest(edges)
    while (iter < maxIter && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      converged = isStarForest(next)
      freeLocalCheckpoint(edges)
      edges = next
      iter += 1
    }
    if (!converged) {
      // a truncated run = components may still be SPLIT (under-dedup
      // downstream) — never let that pass silently
      val msg = s"connectedComponents did not converge after $maxIter rounds; " +
        "components may be split (raise maxIter or set failOnNonConvergence)"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    (edges, converged)
  }

  /** The ids a keep-min dedup DROPS, derived straight from the CC edge set:
    * with the loop's src > dst orientation invariant, every edge source's
    * label is min(dst) < src, so the distinct sources are EXACTLY the ids
    * whose label differs from themselves — at any iteration count,
    * converged or truncated (non-sources always label themselves). Skips
    * the full-label construction (vertex distinct over 2·|pairs| rows +
    * left join) that [[connectedComponents]] pays, which the drop pipelines
    * then immediately filtered down to this set. Returns a checkpointed
    * loser-id frame (one row per dropped duplicate — the same bounded
    * pay-per-defect residual the round-5 drop tail documented). */
  private def componentLosers(pairs: DataFrame, maxIter: Int = 20,
      pairsDistinct: Boolean = false): DataFrame = {
    val (edges, converged) = ccEdges(pairs, maxIter,
      failOnNonConvergence = false, pairsDistinct)
    // converged ⇒ the star-forest test held on THIS frame: every src appears
    // exactly once, so the sources are already distinct — the dedup exchange
    // is skipped. A truncated run can emit a src twice and keeps the distinct.
    val srcs = edges.select(col("src").as("id"))
    val losers = (if (converged) srcs else srcs.distinct()).localCheckpoint(true)
    freeLocalCheckpoint(edges)
    losers
  }

  /** Duplicate-cluster report (component = surviving min id, n_members ≥ 2)
    * straight from the CC edge set — label-identical by construction:
    * a component's members under [[connectedComponents]]' labeling are its
    * edge SOURCES labeled min(dst) plus the root itself iff the root is not
    * also a source (it labels itself then; converged star forests always
    * count it, a truncated run exactly mirrors the label semantics).
    * Replaces the labels join + full-label groupBy with two aggregations
    * over the (tiny) root-of frame. */
  private def componentReport(pairs: DataFrame, maxIter: Int = 20,
      pairsDistinct: Boolean = false): DataFrame = {
    val (edges, converged) = ccEdges(pairs, maxIter,
      failOnNonConvergence = false, pairsDistinct)
    // converged ⇒ star forest: one edge per src, so groupBy(src).min(dst) is
    // the identity — both union branches below read the already-checkpointed
    // edges directly, skipping the exchange AND the second checkpoint. A
    // truncated run keeps the min-agg (one label per src).
    val rootOf =
      if (converged) edges.select(col("src").as("id"), col("dst").as("__c"))
      else edges.groupBy(col("src").as("id")).agg(min("dst").as("__c"))
        .localCheckpoint(true) // read twice below (both union branches)
    // one role-tagged union + groupBy (the star-forest-test pattern)
    // replaces the round-6 kids-agg + anti-join + left-join: role 0 rows
    // count a component's kids, a role 1 row marks "component is itself a
    // source" (then it labels ITS root, not itself — no +1); a root absent
    // from the source set self-labels and counts as the +1 member. A source
    // that roots nobody yields n_members ≤ 1 and is filtered exactly as the
    // join form never emitted it. ONE exchange over 2·|rootOf| tiny rows,
    // zero joins; label-identical under truncation for the same reason as
    // before.
    val report = rootOf.select(col("__c").as("component"), lit(0).as("role"))
      .union(rootOf.select(col("id").as("component"), lit(1).as("role")))
      .groupBy("component")
      .agg(coalesce(sum(when(col("role") === 0, 1L).otherwise(0L)), lit(0L))
          .as("__n_kids"), // coalesce: keep n_members non-nullable like the count-based form
        max(col("role")).as("__is_src"))
      .select(col("component"),
        (col("__n_kids") + when(col("__is_src") === 1, 0L).otherwise(1L)).as("n_members"))
      .filter(col("n_members") >= 2)
      .localCheckpoint(true) // cluster-bounded residual, as before
    freeLocalCheckpoint(edges)
    if (!converged) freeLocalCheckpoint(rootOf)
    report
  }

  /** Release the cached partitions behind a localCheckpoint'ed frame
    * (Dataset.unpersist only talks to the CacheManager, which never knew
    * about them). */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** End-to-end near-duplicate removal: MinHash-LSH candidates → exact
    * n-gram Jaccard verification → connected components → keep the smallest
    * id per cluster. Returns the surviving rows of `df` (schema preserved).
    * Every stage is the guarded/bounded variant — no all-pairs joins, no
    * unbounded per-group state. */
  def dropNearDups(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val (candidates, releaseLsh) = minhashLshCached(df, textCol, idCol, numHashes,
      bands, shingleK, threshold, maxBucket)
    // the verified pair frame is read exactly ONCE — by ccEdges' init
    // checkpoint (the loop then iterates on checkpoints) — so the former
    // persist only added a cache write of the pair set; distinct by
    // construction (candidates are dropDuplicates'd, verification is
    // equi-joins + filters, id_a < id_b strictly)
    val verified = ngramJaccardFor(df, textCol, idCol, candidates, shingleK, threshold)
      .select("id_a", "id_b")
    val losers = componentLosers(verified, pairsDistinct = true)
    releaseLsh()
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Near-dup CLUSTER REPORT — the audit companion to [[dropNearDups]]:
    * instead of silently dropping, emit one row per duplicate cluster
    * (`component` = the surviving min id, `n_members` = cluster size ≥ 2)
    * so a pipeline can quantify duplication before deciding to drop,
    * weight, or keep-one (near-dup RATE is itself a corpus quality metric).
    * Same stages as the drop pipeline minus the anti-join tail; the report
    * is one agg over the CC labels, bounded by the number of clusters. */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val (candidates, releaseLsh) = minhashLshCached(df, textCol, idCol, numHashes,
      bands, shingleK, threshold, maxBucket)
    // single-read pair frame: no persist (see dropNearDups), distinct by
    // construction
    val verified = ngramJaccardFor(df, textCol, idCol, candidates, shingleK, threshold)
      .select("id_a", "id_b")
    // label-identical report derived from the CC edge set — skips the full
    // label construction; the report checkpoint is the same bounded
    // pay-per-defect residual as before
    val report = componentReport(verified, pairsDistinct = true)
    releaseLsh()
    report
  }

  /** SemDeDup-shaped near-duplicate removal over an EMBEDDING column
    * (Abbas et al. 2023: semantically near-identical documents collapse to
    * one exemplar by embedding cosine): sign-LSH bucketing generates
    * candidates, exact cosine verifies them at `threshold`, connected
    * components closes a~b~c chains, and the smallest id per cluster
    * survives. Returns the surviving rows of `df` (schema preserved).
    *
    * Scale shape: identical to [[dropNearDups]] with the MinHash stages
    * swapped for [[Similarity.cosineLshPairs]]' — candidate generation
    * shuffles (id, band, band_val) only (never the vectors), oversized
    * buckets are dropped via the broadcast guard, verification re-attaches
    * vectors to the deduped candidate set, and CC is the O(log n)
    * large-star/small-star loop. No all-pairs join at any stage. */
  def dropNearDupsByEmbedding(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.9, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    val (pairs, releaseLsh) = Similarity.cosineLshPairsCached(df, vecCol, idCol,
      threshold, bands, planesPerBand, maxBucket)
    // single-read pair frame: no persist (see dropNearDups), distinct by
    // construction
    val losers = componentLosers(pairs.select("id_a", "id_b"),
      pairsDistinct = true)
    releaseLsh()
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Embedding-cluster report — [[nearDupClusters]] for the SemDeDup
    * family: (component = surviving min id, n_members ≥ 2) per
    * cosine-similarity cluster. Same stages as
    * [[dropNearDupsByEmbedding]] minus the anti-join tail. */
  def nearDupClustersByEmbedding(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.9, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    val (pairs, releaseLsh) = Similarity.cosineLshPairsCached(df, vecCol, idCol,
      threshold, bands, planesPerBand, maxBucket)
    // single-read pair frame: no persist, distinct by construction
    val report = componentReport(pairs.select("id_a", "id_b"),
      pairsDistinct = true) // label-identical; see nearDupClusters
    releaseLsh()
    report
  }

  // ------------------------------------------------------------------
  // INCREMENTAL dedup: a new ingest batch vs the stored corpus
  // ------------------------------------------------------------------

  /** (id, sig) exact-content signature table — build once per corpus (or
    * maintain append-only as batches land) and store through TableIO;
    * [[dropExactDupsAgainst]] reads it instead of re-hashing 100 TB per
    * ingest. Null-text rows carry no signature and are omitted.
    *
    * `algo`: "md5" (default — a collision costs one extra DROPPED row,
    * never corruption, so the shorter digest is the storage-friendly
    * choice) or "sha256" (collision-free for adversarial corpora — ingest
    * pipelines where an attacker controls document bytes). The store and
    * every later lookup must agree; [[DedupIndex.appendSignatures]] pins
    * the algo in the index's parameter fingerprint. */
  def exactSignatures(df: DataFrame, textCol: String, idCol: String,
      algo: String = "md5"): DataFrame =
    df.select(col(idCol).as("id"), sigExpr(col(textCol), algo).as("sig"))
      .filter(col("sig").isNotNull)

  private[graft] def sigExpr(c: Column, algo: String): Column = algo match {
    case "md5" => md5(c)
    case "sha256" => sha2(c, 256)
    case other => throw new IllegalArgumentException(
      s"unsupported signature algo '$other' (md5 | sha256)")
  }

  /** Drop rows of `newDf` whose exact content already exists in the stored
    * corpus signature table — the daily-ingest form of [[dropExactDups]]
    * (compose with it for intra-batch dups; this op only removes
    * against-the-store copies).
    *
    * SCALE SHAPE: the new batch is the SMALL side (a day's ingest vs the
    * historical store), so its distinct signatures BROADCAST into one
    * semi-join scan of the store — the store never shuffles and is never
    * re-hashed — and the colliding-signature set (bounded by the batch)
    * broadcasts back into the anti-join. Null-text rows pass through (no
    * signature ⇒ nothing to collide with). */
  def dropExactDupsAgainst(newDf: DataFrame, textCol: String, idCol: String,
      corpusSigs: DataFrame, sigCol: String = "sig", algo: String = "md5"): DataFrame = {
    val newSigs = newDf.select(sigExpr(col(textCol), algo).as("__nsig"))
      .filter(col("__nsig").isNotNull).distinct()
    val hits = corpusSigs.select(col(sigCol).as("__nsig"))
      .join(broadcast(newSigs), Seq("__nsig"), "left_semi").distinct()
    newDf.join(broadcast(hits), sigExpr(col(textCol), algo) === col("__nsig"), "left_anti")
  }

  /** (id, band, band_hash) MinHash band table — the stored index for
    * incremental NEAR-dup checks; parameters must match the query side. */
  def minhashBandTable(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    df.select(col(idCol).as("id"),
        minhashSignature(shingles(col(textCol), shingleK), numHashes).as("sig"))
      .filter(size(col("sig")) > 0 && !exists(col("sig"), _.isNull))
      .select(col("id"),
        posexplode(array(bandHashCols("sig", numHashes, bands): _*))
          .as(Seq("band", "band_hash")))
  }

  /** Near-dup candidate pairs (new_id, corpus_id) between a new batch and
    * the stored band table: the batch's band rows broadcast into join scans
    * of the store (which never shuffles). `maxBucket` caps the STORE-side
    * size of any matched band bucket — a boilerplate bucket matched by the
    * batch would otherwise emit |store bucket| × |batch bucket| pairs (the
    * same quadratic blow-up the batch LSH guards against); oversized
    * buckets are dropped and LOGGED, never melted through. Two passes over
    * the band table per ingest (a count of matched buckets, then the
    * candidate join) — the band INDEX is a sliver of the corpus, and the
    * first pass is a pure aggregation. Parameters MUST equal those the
    * band table was built with. BROADCAST CLIFF: the batch's band rows
    * (|batch| × bands) ride a broadcast — far under the ~8 GB broadcast
    * limit for any sane daily batch, but a backfill-sized "batch" should
    * run the symmetric batch op ([[minhashLsh]] over the union) instead. */
  def nearDupCandidatesAgainst(newDf: DataFrame, textCol: String, idCol: String,
      corpusBands: DataFrame, numHashes: Int = 128, bands: Int = 32,
      shingleK: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val newBands = minhashBandTable(newDf, textCol, idCol, numHashes, bands, shingleK)
      .withColumnRenamed("id", "new_id")
    candidatesAgainstBands(newBands, corpusBands, maxBucket, "nearDupCandidatesAgainst")
  }

  /** The shared store-side candidate join of the incremental near-dup ops
    * (MinHash text bands and sign-LSH embedding bands are the same
    * (id, band, band_hash) shape): broadcast the batch's band rows into
    * scans of the store — which never shuffles — with the matched-bucket
    * size guard of the batch pipelines applied on the STORE side. */
  private def candidatesAgainstBands(newBands: DataFrame, corpusBands: DataFrame,
      maxBucket: Int, opName: String): DataFrame = {
    val batchBuckets = newBands.select("band", "band_hash").distinct()
    // pass 1: store-side sizes of MATCHED buckets only (map-side combine;
    // nothing materialized); the oversized set is tiny by construction
    val oversized = corpusBands
      .join(broadcast(batchBuckets), Seq("band", "band_hash"), "left_semi")
      .groupBy("band", "band_hash").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
      .select("band", "band_hash")
      // bounded residual: one row per dropped boilerplate bucket; cannot be
      // auto-freed (the returned frame's anti-join lineage reads it, and a
      // truncated-lineage checkpoint cannot recompute after unpersist)
      .localCheckpoint(true)
    val nOversized = oversized.count()
    if (nOversized > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$opName: dropped $nOversized band bucket(s) larger than " +
          s"maxBucket=$maxBucket on the store side (boilerplate guard) — " +
          "near-dups hiding ONLY in those buckets will not be flagged")
    // pass 2: the candidate join over surviving buckets
    corpusBands
      .join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")
      .join(broadcast(newBands), Seq("band", "band_hash"))
      .select(col("new_id"), col("id").as("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
  }

  /** (id, band, band_hash) sign-LSH band table over an embedding column —
    * the stored index for incremental EMBEDDING near-dup checks (the
    * SemDeDup analog of [[minhashBandTable]]). Zero-norm rows carry no
    * bands (cosine to them is undefined; they can never verify anyway).
    * Parameters must match the query side, and planesPerBand must be sized
    * to the STORE's row count (see [[Similarity.cosineLshPairs]]). */
  def signLshBandTable(df: DataFrame, vecCol: String, idCol: String,
      bands: Int = 8, planesPerBand: Int = 4): DataFrame =
    df.filter(graft.functions.VecFunctions.vec_norm(col(vecCol)) > 0)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.VecFunctions.sign_lsh_bands(col(vecCol), bands, planesPerBand))
          .as(Seq("band", "band_hash")))

  /** Embedding near-dup candidate pairs (new_id, corpus_id) between a new
    * batch and the stored sign-LSH band table — [[nearDupCandidatesAgainst]]
    * with the MinHash stages swapped for sign-LSH. Same store contract:
    * one scan per pass, zero store shuffles, matched-bucket guard, batch
    * bands ride a broadcast (same cliff note). */
  def embedCandidatesAgainst(newDf: DataFrame, vecCol: String, idCol: String,
      corpusBands: DataFrame, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    val newBands = signLshBandTable(newDf, vecCol, idCol, bands, planesPerBand)
      .withColumnRenamed("id", "new_id")
    candidatesAgainstBands(newBands, corpusBands, maxBucket, "embedCandidatesAgainst")
  }

  /** The embedding ingest gate: drop new-batch rows whose exact cosine to a
    * stored corpus embedding reaches `threshold` — the daily-ingest form of
    * [[dropNearDupsByEmbedding]] (compose with it for intra-batch dups).
    * Verification is candidate-bounded and store-cheap exactly as in
    * [[dropNearDupsAgainst]]: the candidate corpus-id set broadcast-SEMI-
    * filters the corpus, so vectors are fetched only for stored rows that
    * are actually candidates — the store is scanned once, never shuffled —
    * and every verification join carries an explicit broadcast hint. */
  def dropNearDupsByEmbeddingAgainst(newDf: DataFrame, vecCol: String,
      idCol: String, corpus: DataFrame, corpusVecCol: String,
      corpusIdCol: String, corpusBands: DataFrame, threshold: Double = 0.9,
      bands: Int = 8, planesPerBand: Int = 4, maxBucket: Int = 4096): DataFrame = {
    val cand = embedCandidatesAgainst(newDf, vecCol, idCol, corpusBands,
        bands, planesPerBand, maxBucket)
      .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      .localCheckpoint(true) // referenced twice below; cut the recompute
    val candIds = cand.select(col("id_b")).distinct()
    val corVecs = corpus
      .join(broadcast(candIds), corpus(corpusIdCol) === candIds("id_b"), "left_semi")
      .select(col(corpusIdCol).as("id_b"), col(corpusVecCol).as("v_b"),
        graft.functions.VecFunctions.vec_norm(col(corpusVecCol)).as("nrm_b"))
    val newVecs = newDf.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      graft.functions.VecFunctions.vec_norm(col(vecCol)).as("nrm_a"))
    val flagged = newVecs.join(broadcast(cand), Seq("id_a"))
      .join(broadcast(corVecs), Seq("id_b"))
      .filter(col("nrm_a") > 0 &&
        Similarity.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))
          >= threshold)
      .select(col("id_a").as("__flag")).distinct().localCheckpoint(true)
    freeLocalCheckpoint(cand)
    newDf.join(broadcast(flagged), col(idCol) === col("__flag"), "left_anti")
  }

  /** The ingest gate: drop new-batch rows verified (exact n-gram Jaccard ≥
    * `minJaccard`) as near-dups of stored corpus documents. Verification is
    * candidate-bounded AND store-cheap: the candidate corpus-id set (tiny)
    * broadcast-SEMI-filters the corpus first, so shingles are computed only
    * for the few stored docs that are actually candidates — the store is
    * scanned once, never shuffled, never bulk re-shingled — and every
    * verification join carries an explicit broadcast hint (no static-plan
    * sort-merge fallback). Keeps the batch's schema. */
  def dropNearDupsAgainst(newDf: DataFrame, textCol: String, idCol: String,
      corpus: DataFrame, corpusTextCol: String, corpusIdCol: String,
      corpusBands: DataFrame, numHashes: Int = 128, bands: Int = 32,
      shingleK: Int = 3, minJaccard: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val cand = nearDupCandidatesAgainst(newDf, textCol, idCol, corpusBands,
      numHashes, bands, shingleK, maxBucket)
      .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      .localCheckpoint(true) // referenced three times below; cut the recompute
    val candIds = cand.select(col("id_b")).distinct()
    // shingle ONLY candidate corpus docs (semi-filter first, then project)
    val corGrams = corpus
      .join(broadcast(candIds), corpus(corpusIdCol) === candIds("id_b"), "left_semi")
      .select(col(corpusIdCol).as("id_b"), shingles(col(corpusTextCol), shingleK).as("g_b"))
    val newGrams = newDf.select(col(idCol).as("id_a"),
      shingles(col(textCol), shingleK).as("g_a"))
    val pairs = newGrams.join(broadcast(cand), Seq("id_a"))
      .join(broadcast(corGrams), Seq("id_b"))
    // materialize the flagged-id set eagerly so the checkpointed candidate
    // frame can be FREED here — without this, repeated daily-ingest calls in
    // a long-lived session accrete one candidate block set per call. The
    // flagged checkpoint itself CANNOT be auto-freed (localCheckpoint
    // truncates lineage — freeing it would break any later action on the
    // returned frame), but it is one row per dropped near-dup: the same
    // bounded pay-per-defect residual the drop pipelines document.
    val flagged = scorePairs(pairs, minJaccard)
      .select(col("id_a").as("__flag")).distinct().localCheckpoint(true)
    freeLocalCheckpoint(cand)
    newDf.join(broadcast(flagged), col(idCol) === col("__flag"), "left_anti")
  }

  /** RESUMABLE [[dropNearDups]]: the two expensive intermediates — the
    * verified near-dup edge list (LSH + exact-Jaccard, the dominant cost)
    * and the connected-component labels — are materialized through
    * `stages` ([[graft.StageRunner]]), so a run killed after either stage
    * resumes from storage instead of re-running LSH over the corpus.
    * Survivors are identical to the non-resumable form (every stage is a
    * deterministic function of the input; the kill-after-stage test
    * asserts it). The final keep-min anti-join is recomputed on resume —
    * it is one broadcast join over the loser-id set, not worth a stage. */
  def dropNearDupsResumable(df: DataFrame, textCol: String, idCol: String,
      stages: graft.StageRunner,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    // the release handle escapes the compute block so the LSH signature
    // cache is dropped AFTER the stage write materialized it (if the stage
    // was already done, compute never runs and this stays a no-op)
    var releaseLsh: () => Unit = () => ()
    val verified = stages.stage("verified_pairs",
        Seq("lsh_verify", textCol, idCol, numHashes, bands, shingleK, threshold, maxBucket)) {
      val (candidates, release) = minhashLshCached(df, textCol, idCol,
        numHashes, bands, shingleK, threshold, maxBucket)
      releaseLsh = release
      ngramJaccardFor(df, textCol, idCol, candidates, shingleK, threshold)
        .select("id_a", "id_b")
    }
    releaseLsh() // stage read is storage-backed; no lineage into the cache
    // same pattern for CC's internal localCheckpoint blocks: the stage write
    // materializes the labels, so the in-memory copy can be dropped
    var ccInMem: Option[DataFrame] = None
    val cc = stages.stage("cc_labels",
        Seq("cc", textCol, idCol, numHashes, bands, shingleK, threshold, maxBucket)) {
      val labels = connectedComponents(verified)
      ccInMem = Some(labels)
      labels
    }
    ccInMem.foreach(freeLocalCheckpoint)
    val losers = cc.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(broadcast(losers), Seq(idCol), "left_anti")
  }

}
