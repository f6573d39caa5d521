package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sql.GraftFunctions
import graft.functions.F

/**
 * Deduplication operators for large-scale corpus curation (beyond the
 * reference's surface — SURVEY.md §2.9).
 *
 * Scale design: every near-dup variant generates candidates through a
 * bucket equi-join (LSH band, simhash band, or a bounded group key) —
 * never a corpus-wide cross join. At 100 TB the shuffles are on
 * (band, hash) keys whose cardinality grows with the data, so they
 * spread across executors; pairwise verification runs only inside
 * buckets.
 */
object Dedup {

  /** Driver-side ordering matching Spark's `min()`/`max()` for the id
    * and score types the small-graph union-find accepts (numeric,
    * string, date/time — anything Comparable). Keeps the collected
    * path's canonical and keep-best choices identical to the
    * distributed path's; like SQL, it ties -0.0 with 0.0. */
  private object CanonicalOrdering extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
      case (x: java.lang.Float, y: java.lang.Float)   => if (x == y) 0 else java.lang.Float.compare(x, y)
      case (x: java.lang.Long, y: java.lang.Long)       => java.lang.Long.compare(x, y)
      case (x: java.lang.Integer, y: java.lang.Integer) => java.lang.Integer.compare(x, y)
      case (x: String, y: String)                       => x.compareTo(y)
      case (x: java.lang.Comparable[_], _) => x.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
      case _ => throw new IllegalArgumentException(s"unorderable id type: ${a.getClass}")
    }
  }

  /**
   * Exact dedup: canonical row per identical text + duplicate count.
   * Groups on a 128-bit content hash (two independently-seeded 64-bit
   * halves), NOT the text itself: the shuffle ships 24 bytes per row
   * instead of whole documents — at corpus scale that is the difference
   * between shuffling kilobytes/doc and a fixed-width key. Collision
   * probability at 10^11 docs is ~10^-17 (birthday bound on 128 bits),
   * the standard content-hash dedup practice for training corpora.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
        col(idCol),
        xxhash64(col(textCol)).as("h1"),
        xxhash64(lit("graft-seed-2"), col(textCol)).as("h2"))
      .groupBy(col("h1"), col("h2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))

  /** Word n-gram shingles of a text column (token sequence n-grams).
    * Native one-pass kernel — the composable HOF formulation
    * (array_distinct∘transform∘slice∘concat_ws) is interpreted per
    * element and dominated the exact-verify dedup paths. */
  def shingles(textCol: Column, n: Int): Column =
    GraftFunctions.call("graft_word_shingles", textCol, lit(n))

  /**
   * MinHash signatures: one narrow per-row pass (plus a one-time
   * [[Ann.spread]] repartition when the input lacks scan parallelism:
   * a shard read from one or two small parquet files bin-packs into a
   * single scan partition, and every plan referencing the signature
   * subtree more than once then serializes on one core — measured:
   * q_dedup_cross_delta's four signature evaluations at the 5× corpus
   * ran 4-12s wall single-partition, 2.5s spread).
   * See TextMinHash for why the fused expression beats the composable
   * formulations (nested transform 70s+, explode + 64 partial-agg mins
   * 11s, fused ~1s at sf0.1).
   */
  def minhashSigs(df: DataFrame, idCol: String, textCol: String, numHashes: Int, shingleSize: Int): DataFrame =
    minhashSigsKeep(df, idCol, textCol, numHashes, shingleSize, Nil)

  /** [[minhashSigs]] carrying `keep` columns of `df` through the
    * signature pass — a caller that needs (sig, score) pays the narrow
    * map only, not a post-hoc self-join to re-attach its own columns
    * (one exchange per streaming trigger in keep-best). Without
    * `spread` the pass runs in `df`'s own partitioning (a bounded batch
    * that is collected next gains nothing from a round-robin shuffle). */
  private[graft] def minhashSigsKeep(
      df: DataFrame, idCol: String, textCol: String, numHashes: Int, shingleSize: Int,
      keep: Seq[String], spread: Boolean = true): DataFrame = {
    // One narrow pass via the fused TextMinHash expression (tokenize →
    // shingle-hash → k minima, no intermediate strings). Earlier shapes
    // measured at sf0.1: nested transform 70s+, explode + 64
    // partial-agg mins 11s, HOF shingles + native minhash ~10s cold
    // (interpreter warm-up dominates), fused ~1s.
    (if (spread) Ann.spread(df) else df).select(
      col(idCol).as("id") +:
        GraftFunctions.call("graft_text_minhash", col(textCol), lit(shingleSize), lit(numHashes)).as("sig") +:
        keep.map(col): _*
    )
  }

  /**
   * MinHash + LSH near-duplicate pairs.
   * shingle → k-minima signature → band keys → explode → self-join on
   * (band, bandHash) → distinct (a<b) pairs → verify estimated Jaccard
   * (fraction of equal minima) >= threshold.
   */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigs = minhashSigs(df, idCol, textCol, numHashes, shingleSize)
    // candidate generation joins (id, band, bandhash) ONLY — the band
    // join and pair dedup never ship the 64-long signatures; signatures
    // re-attach to the (far smaller) distinct candidate set afterwards.
    bandPairs(bandedFromSigs(sigs, bands, rowsPerBand))
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        F.estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash signatures — one narrow pass via the fused TextSimHash expression. */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    df.select(
      col(idCol).as("id"),
      GraftFunctions.call("graft_text_simhash", col(textCol), lit(shingleSize)).as("sig")
    )
  }

  /**
   * Degenerate-bucket guard for LSH band joins. A band bucket of size m
   * yields m²/2 candidate pairs — on real corpora buckets are small,
   * but degenerate content (millions of empty or boilerplate documents
   * sharing one signature) turns a single bucket quadratic. With
   * `maxBucket = Some(n)`, buckets larger than n are dropped from
   * candidate generation (one extra aggregation on the banded rows —
   * linear, same key partitioning). Dropped buckets are near-identical
   * content: route those through [[exact]] dedup, which handles them in
   * linear time. Default None = exact recall (the oracle-checked
   * queries keep it).
   */
  private def capBuckets(banded: DataFrame, maxBucket: Option[Int]): DataFrame =
    maxBucket match {
      case None => banded
      case Some(n) =>
        val sizes = banded.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("bsz"))
        banded.join(sizes.filter(col("bsz") <= n).hint("shuffle_hash"), Seq("band", "bh"))
          .drop("bsz")
    }

  /** Distinct candidate pairs (id_a < id_b) of banded rows (id, band,
    * bh) that share a band key: the band self-join, shuffle-hashed on
    * the b side, over buckets capped by [[capBuckets]]. */
  private def bandPairs(banded: DataFrame, maxBucket: Option[Int] = None): DataFrame = {
    val capped = capBuckets(banded, maxBucket)
    capped.as("a")
      .join(capped.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Block decomposition of the 64-bit simhash: maxHamming+1 contiguous
    * blocks. By pigeonhole, any pair within hamming <= maxHamming agrees
    * on at least one whole block (the Manku/Jain/Sarma WWW'07 near-dup
    * construction) — candidate recall is GUARANTEED, not probabilistic.
    * More blocks = smaller buckets = more false candidates; production
    * near-dup radius is 3 (four 16-bit blocks). */
  private def simhashBanded(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bands >= 1 && bands <= 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val bandCols = (0 until bands).map { bnd =>
      val lo = bnd * 64 / bands
      val hi = (bnd + 1) * 64 / bands
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(bnd).as("band"),
        call_function("shiftrightunsigned", col("sig"), lit(lo)).bitwiseAND(lit(mask)).as("bh"))
    }
    sigs
      .select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bh"))
  }

  /**
   * SimHash near-duplicate pairs: 64-bit signature, block-decomposed
   * candidates (recall-complete for the radius — see [[simhashBanded]]),
   * verified with exact hamming <= maxHamming.
   */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      maxHamming: Int = 3,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    val banded = capBuckets(
      simhashBanded(simhashSigs(df, idCol, textCol, shingleSize), maxHamming), maxBucket)
    val a = banded.as("a")
    val b = banded.as("b").hint("shuffle_hash")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        F.hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact distinct-shingle Jaccard for candidate pairs: re-attach the
    * (small) candidate set to per-doc shingle arrays and compare sets.
    * Per-pair array_intersect is affordable because it only ever runs on
    * LSH candidates, never all pairs. */
  def exactJaccardVerify(
      cands: DataFrame, df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jac"))
  }

  /**
   * MinHash-LSH candidates verified with EXACT distinct-shingle Jaccard
   * (not the signature estimate): the output is driver/oracle-checkable
   * against a brute-force ground truth, and duplicates never enter the
   * corpus because a sketch over-estimated. 32 bands of 2 hashes: a
   * true pair at j=0.5 is missed with prob (1-j²)³² ≈ 1e-4, at the
   * j≥0.7 of real near-dups < 1e-9 — while candidate generation stays
   * bucket-local (no all-pairs).
   */
  /** MinHash band-collision candidate pairs (id-only). */
  private def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    val sigs = minhashSigs(df, idCol, textCol, numHashes, shingleSize)
    bandPairs(bandedFromSigs(sigs, bands, numHashes / bands), maxBucket)
  }

  /**
   * Minhash banding sized for a jaccard threshold: a pair at jaccard t
   * matches one minhash with probability t, an r-hash band with t^r,
   * and escapes all b bands with (1 − t^r)^b ≤ missTarget. Picks the
   * LARGEST r whose band count fits the hash budget (fewest background
   * collisions). Unlike sign-LSH, the background rate (j^r at corpus
   * jaccard j ≈ 0) vanishes with r, so minhash banding keeps pruning
   * at low thresholds — the fitting r just shrinks.
   */
  def minhashBanding(threshold: Double, missTarget: Double = 1e-6, hashBudget: Int = 128): (Int, Int) = {
    val t = math.min(math.max(threshold, 0.0), 1.0)
    val fit = (hashBudget to 1 by -1).iterator.flatMap { r =>
      val tr = math.pow(t, r)
      if (tr >= 1.0) None // t = 1: exact dups match every band
      else if (tr <= 0.0) None
      else {
        val bD = math.max(1.0, math.ceil(math.log(missTarget) / math.log1p(-tr)))
        if (bD * r <= hashBudget) { val b = bD.toInt; Some((r * b, b)) } else None
      }
    }
    fit.nextOption().getOrElse((hashBudget, hashBudget / 2))
  }

  /** Exact-verified minhash near-dup pairs: LSH-banded candidates,
    * then true shingle-jaccard ≥ threshold. With `numHashes`/`bands`
    * ≤ 0 (the default) the banding is sized from the threshold via
    * [[minhashBanding]] so the at-threshold miss probability is below
    * `missTarget` on any corpus (a fixed 32×2 layout's bound is only
    * ~1e-4 at t = 0.5 and degrades fast below it).
    *
    * `missTarget` is the recall/cost dial: tightening the bound grows
    * the banding and with it the candidate volume — measured at sf0.1
    * the move from the 32×2 layout (~1e-4) to the 1e-6-sized 98×49
    * roughly ~1.5×'d candidates (q_dedup_cluster 1.07s → 2.33s,
    * q_curate 1.83s → 2.66s). Loosen it on corpora where near-dup
    * clusters are redundant evidence anyway; tighten it when a single
    * missed pair is costly. */
  def minhashJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 0,
      bands: Int = 0,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Option[Int] = None,
      missTarget: Double = 1e-6
  ): DataFrame = {
    val (nh, b) =
      if (numHashes > 0 && bands > 0) (numHashes, bands) else minhashBanding(threshold, missTarget)
    exactJaccardVerify(
      minhashCandidates(df, idCol, textCol, nh, b, shingleSize, maxBucket),
      df, idCol, textCol, shingleSize)
      .filter(col("jac") >= threshold)
  }

  /**
   * SimHash candidates + a minhash-band backstop, verified with EXACT
   * distinct-shingle Jaccard — the ensemble candidate-generation shape
   * production dedup pipelines use.
   *
   * Why the backstop: simhash hamming correlates with jaccard but with
   * high variance on short documents (measured: a jac-0.89 pair at
   * hamming 13, a jac-0.96 pair at hamming 9), so NO fixed radius turns
   * a jaccard threshold into a hamming guarantee — and radii past ~5
   * need blocks so small their buckets melt at scale. Unioning the
   * 32-band minhash candidates (miss < 1e-9 at j>=0.7) makes recall of
   * the ≥-threshold set robust while simhash keeps its scale-honest
   * radius-3 blocks; every emitted pair is exact-verified, so the
   * output equals the brute-force ground truth and is oracle-checkable.
   */
  def simhashJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      maxHamming: Int = 3,
      threshold: Double = 0.5,
      backstopBands: Int = 32,
      numHashes: Int = 64
  ): DataFrame = {
    val simCands = simhashPairs(df, idCol, textCol, shingleSize, maxHamming)
      .select("id_a", "id_b")
    val cands =
      if (backstopBands <= 0) simCands
      else simCands
        .unionByName(minhashCandidates(df, idCol, textCol, numHashes, backstopBands, shingleSize))
        .distinct()
    exactJaccardVerify(cands, df, idCol, textCol, shingleSize)
      .filter(col("jac") >= threshold)
  }

  // Character n-gram Jaccard near-dup pairs within bounded groups (the
  // group key caps candidates; at scale it is an LSH prefix or
  // domain/source bucket). Set-similarity-join formulation: explode
  // distinct grams, equi-join on (group, gram), count shared grams per
  // pair, jaccard = |∩| / (|A| + |B| − |∩|). Compared to joining whole
  // gram arrays and running array_intersect per candidate pair (measured
  // 51s at sf0.1), only pairs sharing ≥1 gram are ever materialized and
  // the per-pair work is a counting aggregate with map-side combine.

  /** Exploded (id, set-size, gram, groups…) postings — shared by the
    * jaccard variants and the dispatch probe. */
  private[graft] def gramPostings(
      df: DataFrame, idCol: String, textCol: String, groupCols: Seq[String], n: Int): DataFrame = {
    df.select(
        (col(idCol).as("id") +:
          GraftFunctions.call("graft_char_ngrams", lower(col(textCol)), lit(n)).as("grams") +:
          groupCols.map(col)): _*
      )
      .select((col("id") +: size(col("grams")).as("sz") +: explode(col("grams")).as("gram") +: groupCols.map(col)): _*)
  }

  /**
   * N-gram Jaccard near-duplicate pairs — scale-safe by default.
   *
   * Dispatches on a one-aggregate skew probe: the posting self-join's
   * output is Σ gf² rows (gf = per-group gram frequency), so the
   * expansion ratio E = Σgf²/Σgf is the expected posting-list length a
   * posting meets in the join. On dense small corpora E is small and
   * the direct self-join wins (measured 2s vs 10s at sf0.1, E≈29); on
   * heavy-tailed real corpora stop-grams give gf ∝ corpus size, E grows
   * without bound and the direct join melts — prefix filtering
   * (PPJoin) is the only shape that survives. The probe runs on a
   * deterministic ~10% hash-sample of documents (doc sampling at rate p
   * scales every gram frequency binomially to ~p·gf, so E scales by p
   * and the per-list cap by p — the decision thresholds are rescaled,
   * not the data): a dispatch heuristic between two result-identical
   * plans doesn't need exact counts, and at corpus scale a probe that
   * reads 10% of the text instead of 100% is the difference between
   * "free" and "another full pass".
   *
   * Dispatch: prefix when E > maxExpansion (default 256 ≈ the measured
   * crossover extrapolated to ~sf1) or any single posting list exceeds
   * 1<<16 (one melting key is enough). Both variants are result-identical
   * (spec-proven), so a sampling-noise flip near the boundary can only
   * cost speed, never correctness.
   *
   * Two straggler defenses, both result-identical and both
   * probe-dispatched off the same deterministic ~10% sample:
   *
   * EXACT-DUPLICATE COLLAPSE (`collapseExact`, on by default, FIRES
   * only when the sampled exact-dup fraction exceeds 5%): docs with
   * identical (group, lower(text)) are collapsed to one representative
   * BEFORE the posting pipeline, and the pair set is re-expanded
   * afterwards. Result-identical by construction — an identical
   * lowered text has an identical distinct-gram set, so jac(a, c) =
   * jac(b, c) for every third doc c and jac(a, b) = 1 — expansion
   * emits every member×member cross pair at the representative pair's
   * jaccard plus all intra-group pairs at 1.0. A k-replica exact-dup
   * cluster (crawl snapshots, boilerplate pages) costs the pipeline
   * ONE doc instead of k× posting rows and k² join rows; the dup probe
   * keeps dup-free corpora off the collapse's text-keyed grouping
   * (measured 2.4× overhead at sf0.1 when unconditional). Null-text
   * docs are excluded to match the raw pipeline, which drops them at
   * the posting explode.
   *
   * HEAVY-GRAM SALTING (dense route): a boilerplate gram shared by a
   * large doc fraction (navigation chrome, license headers) makes its
   * ONE (group, gram) partition quadratic in a single task. Grams the
   * sample shows dominating the stage (gf² above 1/64 of Σgf², ~2^12
   * absolute floor, top-128 cap) are salted in the counting self-join
   * — one side scatters by hash(id) % 16, the other replicates its
   * heavy postings over the 16 salts — so each pair still meets
   * exactly once while the dominator's work spreads 16 ways
   * ([[denseFromPostings]]).
   */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.35,
      maxExpansion: Double = 256.0,
      probeFraction: Double = 0.1,
      collapseExact: Boolean = true
  ): DataFrame =
    routedNgramPairs(df, idCol, textCol, groupCols, n, threshold, maxExpansion, probeFraction,
      collapseExact, pinned = None)

  /** A pinned [[ngramJaccardPairs]] route. */
  private[graft] sealed trait NgramRoute
  private[graft] object NgramRoute {
    case object Collapsed extends NgramRoute
    case object Dense extends NgramRoute
    case object Prefix extends NgramRoute
  }

  /**
   * [[ngramJaccardPairs]] with its route optionally pinned: a pin skips
   * the sampled route probes. Every route is result-identical (DedupSpec
   * pins each one against the adaptive result), so a pin can only cost
   * speed when wrong. What each pin skips: `Collapsed` skips the
   * dup-fraction probe (the representative pipeline underneath is an
   * unpinned call, so it stays adaptive); `Prefix` skips all sampled
   * probes and takes the session's shuffle partitioning (the adaptive
   * path's volume-sized widening is skipped with the probe that sizes
   * it); `Dense` skips the dup and prefix-volume probes but KEEPS the
   * sampled gf aggregate — it feeds heavy-gram salting and volume-sized
   * partitioning, which are straggler/heap defenses, not routing.
   */
  private[graft] def routedNgramPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int,
      threshold: Double,
      maxExpansion: Double,
      probeFraction: Double,
      collapseExact: Boolean,
      pinned: Option[NgramRoute]
  ): DataFrame = {
    val p = math.min(math.max(probeFraction, 0.001), 1.0)
    if (collapseExact && pinned.contains(NgramRoute.Collapsed))
      return ngramJaccardPairsCollapsed(df, idCol, textCol, groupCols, n, threshold,
        maxExpansion, probeFraction)
    // dup probe (one narrow job over the sampled docs' 8-byte hashes):
    // the collapse pays a text-keyed grouping + membership joins, so it
    // must only run when the corpus actually carries exact-dup mass
    // (measured: unconditional collapse cost 2.4× on the dup-free
    // sf0.1 corpus). Both routes are result-identical, so a
    // sampling-noise flip near the 5% bound costs speed, never
    // correctness.
    if (collapseExact && pinned.isEmpty) {
      val sampledDocs = (if (p >= 1.0) df
        else df.filter(pmod(xxhash64(col(idCol), lit(77)), lit(1000)) < lit((p * 1000).toInt)))
        .filter((col(textCol).isNotNull +: groupCols.map(col(_).isNotNull)).reduce(_ && _))
      val d = sampledDocs
        .select(xxhash64((groupCols.map(col) :+ lower(col(textCol))): _*).as("__th"))
        .agg(count(lit(1)).as("n"), countDistinct(col("__th")).as("nd"))
        .head()
      val dupFrac =
        if (d.isNullAt(0) || d.getLong(0) == 0L) 0.0
        else 1.0 - d.getLong(1).toDouble / d.getLong(0).toDouble
      if (dupFrac > 0.05)
        return ngramJaccardPairsCollapsed(df, idCol, textCol, groupCols, n, threshold,
          maxExpansion, probeFraction)
    }
    val ex = gramPostings(df, idCol, textCol, groupCols, n)
    // pinned prefix route: no sampled machinery at all — the PPJoin
    // path sizes its own work from the session's shuffle partitioning
    if (pinned.contains(NgramRoute.Prefix))
      return prefixPairs(df, idCol, textCol, groupCols, n, threshold, numPartitions = None)
    // deterministic doc sample: stable across runs/retries (no RNG state)
    val sampled =
      if (p >= 1.0) ex
      else ex.filter(pmod(xxhash64(col("id"), lit(77)), lit(1000)) < lit((p * 1000).toInt))
    // localCheckpoint: the sampled gf table (sampled-vocab-sized, tiny)
    // feeds the skew head, the heavy-key collect, AND the prefix-volume
    // probe — without the checkpoint each one re-runs the sampled
    // text-scan + explode + aggregate lineage (3 redundant passes,
    // measured ~1s each at sf0.5)
    val sampledGf = sampled
      .groupBy((groupCols.map(col) :+ col("gram")): _*).agg(count(lit(1)).as("gf"))
      .localCheckpoint(true)
    val probe = sampledGf
      .agg(sum(col("gf")).as("postings"), sum(col("gf") * col("gf")).as("joinrows"), max(col("gf")).as("maxgf"))
      .head()
    // a dense pin forces the else-branch below without the routing
    // probes; the gf aggregate above still ran (salting + sizing)
    val heavyTailed = pinned.isEmpty && !probe.isNullAt(0) && {
      val expansion = probe.getLong(1).toDouble / probe.getLong(0).toDouble
      expansion > maxExpansion * p || probe.getLong(2) > ((1L << 16) * p).toLong
    }
    // NEAR-DUP-DENSE preference: a corpus of deep near-dup clusters
    // (crawl snapshots differing by a few tokens) is NOT heavy-tailed —
    // no single gram dominates — yet the dense counting join's volume
    // is quadratic in cluster depth (Σgf² rows: measured 644M at
    // sf0.5×5-replica, 25× the sf0.1 corpus). The PPJoin prefix route's
    // candidate join only meets on PREFIX tokens — per-doc rarest grams,
    // which cross-cluster pairs rarely share — so its volume stays
    // near output-sized there. Estimate BOTH volumes from the SAME
    // sample and take the cheaper: Σ(prefix-pf)² is computed by running
    // the sampled postings through the actual prefix extraction (doc
    // sampling keeps whole docs, so prefLen and prefix membership are
    // the real ones and pair survival scales by p² like the dense
    // estimate). The second probe only runs once the dense estimate
    // already exceeds PrefixProbeBound — small corpora keep their
    // single-aggregate probe and their dense plan untouched. The ×2
    // handicap covers the prefix route's extra fixed passes (freq
    // join, array build, verify joins); both routes are
    // result-identical (spec-proven), so probe noise near the boundary
    // costs speed, never correctness.
    // an empty sample (tiny corpus at a small probeFraction) yields a
    // null aggregate row — read as zero volume: the corpus is small
    // enough that the dense plan is trivially right
    val estJoinRows =
      if (probe.isNullAt(0)) 0L else (probe.getLong(1) / (p * p)).toLong
    lazy val estPrefixRows: Long = {
      // the asymmetric candidate join's volume is Σ_gram pfIdx·pfProbe
      // (index-prefix postings × probing-prefix postings), computed by
      // running the sampled postings through the SAME rarityArrays /
      // prefix-length machinery prefixPairs runs. Since r13's size
      // banding this is a conservative UPPER bound of the actual
      // banded join (the band key and per-band shortened probe
      // prefixes only remove rows — measured −27% on the 5×-replica
      // corpus), so near the 2× crossover a size-diverse corpus may
      // route dense when banded-prefix is slightly cheaper, and the
      // partition width sized from it errs wide. Both cost speed at
      // the margin, never correctness; modeling the bands exactly
      // would need per-(gram, band) sampled counts — a second
      // aggregate the probe deliberately does not pay.
      val r = rarityArrays(sampled, sampledGf, groupCols)
        .select((col("sz") +: groupCols.map(col) :+
          posexplode(slice(col("toks"), lit(1), probePrefLen(threshold))).as(Seq("pos", "tok"))): _*)
        .groupBy((groupCols.map(col) :+ col("tok")): _*)
        .agg(count(lit(1)).as("pfp"),
          sum(when(col("pos") < idxPrefLen(threshold), 1L).otherwise(0L)).as("pfi"))
        .agg(sum(col("pfi") * col("pfp")).as("prows"))
        .head()
      if (r.isNullAt(0)) 0L else (r.getLong(0) / (p * p)).toLong
    }
    val nearDupDense = pinned.isEmpty &&
      estJoinRows > PrefixProbeBound && estPrefixRows * 2 < estJoinRows
    if (heavyTailed || nearDupDense) {
      // VOLUME-SIZED candidate-join partitioning, same discipline as
      // the dense route below: per-task memory tracks candidate rows /
      // partitions. When the route came from the prefix-volume probe
      // its estimate sizes the width; the heavy-tailed escape reuses
      // whichever estimate is already computed (the prefix estimate
      // exists exactly when the dense one passed the probe bound) —
      // too-wide costs only scheduling, too-narrow costs heap.
      val estRows = if (estJoinRows > PrefixProbeBound) estPrefixRows else estJoinRows
      val sessionParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val targetParts = math.min(2048L,
        math.max(sessionParts.toLong, estRows / (8L * 1000 * 1000))).toInt
      prefixPairs(df, idCol, textCol, groupCols, n, threshold,
        numPartitions = if (targetParts > sessionParts) Some(targetParts) else None)
    } else {
      // HEAVY-GRAM SALTING KEYS for the dense route: a gram whose
      // posting list is long enough that its SINGLE (group, gram)
      // partition's quadratic join work exceeds one task's fair
      // share of the whole stage becomes a straggler — the
      // boilerplate-gram shape of real crawl corpora (a navigation
      // header shared by 1% of a 1e9-doc corpus is a 1e7-long
      // posting list = 1e14 join rows in ONE task). Detection rides
      // the SAME sampled gf table as the probe: salt a gram iff its
      // sampled gf² exceeds 1/64 of the sampled Σgf² (it alone
      // out-weighs a 64th of the stage), with an absolute floor of
      // ~2^12·p/2 sampled (~2^12 true — below that a partition
      // finishes in well under a second regardless), capped at the
      // 128 hottest — only dominators are worth the ×16 replication
      // of their postings. (Diagnosed while chasing the sf0.5_synth
      // 12-45s rep spread: that corpus's max gf is 505 — NO dominator,
      // so nothing salts there and the spread was heap/GC noise over
      // an inherently 644M-row counting join, steady ~15.5s; the
      // salting exists for the corpora where one key genuinely
      // dominates.) Salting any subset is result-identical (each
      // pair still meets exactly once), so detection noise and the
      // cap can only cost balance, never correctness.
      val shareCut =
        if (probe.isNullAt(0)) Long.MaxValue // empty sample: nothing to salt
        else math.ceil(math.sqrt(probe.getLong(1).toDouble / 64.0)).toLong
      val heavyCut = math.max(math.max(4L, ((1L << 12) * p / 2).toLong), shareCut)
      val heavyKeys = sampledGf
        .filter(col("gf") > heavyCut)
        .orderBy(col("gf").desc)
        .limit(128)
        .select(grpGramKey(groupCols).as("k"))
        .collect().map(_.getString(0)).toSeq
      // VOLUME-SIZED partitioning for the counting join: the stage's
      // cost is the join's output (Σgf² rows through a partial
      // pair-keyed aggregate whose hash tables hold the candidate
      // pairs), so per-task memory tracks joinRows/partitions — at the
      // session default the 5×-replica corpus put ~20M join rows and
      // millions of pair keys in each task and wall time went
      // GC-bimodal (measured 16-80s for one plan). Target ~8M join
      // rows per task, floored at the session setting (small corpora
      // keep their plan exactly) and capped at 2048; the estimate is
      // the probe's sampled Σgf² rescaled by 1/p² (pair survival under
      // doc sampling is quadratic).
      val sessionParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val targetParts = math.min(2048L,
        math.max(sessionParts.toLong, estJoinRows / (8L * 1000 * 1000))).toInt
      denseFromPostings(ex, groupCols, threshold, heavyKeys,
        numPartitions = if (targetParts > sessionParts) Some(targetParts) else None)
    }
  }

  /** Dense-route estimated join volume above which the dispatcher
    * spends a second sampled probe estimating the PPJoin prefix
    * route's candidate volume (Σ prefix-pf²): below it the dense
    * counting join is cheap enough that the probe would cost more
    * than the worst-case difference (sf0.1's whole dense stage is
    * ~26M rows); above it a 2× volume advantage routes to prefix. */
  private val PrefixProbeBound: Long = 128L * 1000 * 1000

  /** Document bound under which a banded probe side is force-broadcast,
    * from BYTES rather than a fixed row count: a document's banded rows
    * replicate its payload once per band, so `perDocBytes` is fan-out ×
    * row width. Targets ~1 GiB (comfortably under the 8 GB broadcast
    * hard limit), floor 4096 docs so even extreme widths still
    * broadcast a trivial batch. Past it the probe join falls back to
    * the two-sided shuffle: slower, but it completes. */
  private[graft] def bandedBroadcastDocs(perDocBytes: Long): Long =
    math.max(4096L, (1L << 30) / perDocBytes)

  /** [[bandedBroadcastDocs]] for a text-index probe: banded probe rows
    * are id-only (~24 B, padded to 64) at `bands` rows per document. */
  private def indexProbeBroadcastDocs(bands: Int): Long =
    bandedBroadcastDocs(bands.toLong * 64L)

  /** Geometric size-band ratio for the PPJoin candidate join: bands of
    * [c^k, c^(k+1)) sizes. Smaller c → shorter per-band probe prefixes
    * (→ 2t/(1+t) in the limit) but more target bands per probe entry;
    * 1.4 keeps the fan-out at ~3 bands for t = 0.35 while cutting the
    * probe prefix ~15% in the same-size band (occupancy pruning makes
    * fan-out to EMPTY bands free, so uniform corpora pay none). */
  private val PpjBandRatio: Double = 1.4

  // ---- shared PPJoin prefix machinery (the dispatcher's volume probe
  // runs the SAME rarity/prefix-length definitions as prefixPairs so
  // the two cannot drift on those; the probe's estimate is an UPPER
  // bound of the banded join's volume — see estPrefixRows) ----

  /** Per-doc rarity-sorted token arrays: postings joined with the
    * per-(group, gram) frequencies, each token packed as ONE sortable
    * string (gf zero-padded to fixed width, gram appended — binary
    * UTF8 order == (rarity, gram)), collected + sorted per doc. The
    * gf side is aggregate output (vocab-sized, small but beyond the
    * broadcast threshold) — shuffle_hash skips the two sorts a
    * sort-merge join would pay on the posting side (measured 5-6s →
    * ~2.5s at the 4.5M-posting scale). */
  private def rarityArrays(postings: DataFrame, gf: DataFrame, groupCols: Seq[String]): DataFrame =
    postings
      .join(gf.hint("shuffle_hash"), groupCols :+ "gram")
      .select((col("id") +: col("sz") +:
        concat(lpad(col("gf").cast("string"), 10, "0"), col("gram")).as("tok") +:
        groupCols.map(col)): _*)
      .groupBy((col("id") +: col("sz") +: groupCols.map(col)): _*)
      .agg(sort_array(collect_list(col("tok"))).as("toks"))

  /** Probing-prefix length sz - ceil(t·sz) + 1. The ceil is fp-nudged
    * DOWN 1e-9 so a floating product landing epsilon above an exact
    * integer can only LENGTHEN the prefix (safe), never shorten it
    * (lossy). */
  private def probePrefLen(threshold: Double): Column =
    (col("sz") - ceil(col("sz").cast("double") * lit(threshold) - lit(1e-9)) + 1).cast("int")

  /** Indexing-prefix length for the SMALLER side of a (sz, id)-ordered
    * pair: with szX <= szY the required overlap is >= ⌈2t/(1+t)·szX⌉,
    * so only the first szX - ⌈2t/(1+t)·szX⌉ + 1 tokens can witness a
    * qualifying pair (same fp nudge as [[probePrefLen]]). */
  private def idxPrefLen(threshold: Double): Column = {
    val f = 2.0 * threshold / (1.0 + threshold)
    (col("sz") - ceil(col("sz").cast("double") * lit(f) - lit(1e-9)) + 1).cast("int")
  }

  // ---- size-band expressions of prefixPairs (the banding's measured
  // −27% candidate scan is recorded in SURVEY.md §7, r13) ----

  /** Geometric size-band id of a doc size. */
  private def ppjBandOf(szc: Column): Column =
    floor(log(szc.cast("double")) / lit(math.log(PpjBandRatio))).cast("int")

  /** Smallest partner size the PPJoin length filter admits (floor, not
    * ceil: an off-by-one DOWN only widens the band range — safe). */
  private def ppjXmin(szc: Column, threshold: Double): Column =
    greatest(floor(szc.cast("double") * lit(threshold)).cast("int"), lit(1))

  /** A band's minimum partner size m (the pow() band floor is shaved
    * 0.1% so fp can only LENGTHEN a prefix). */
  private def ppjBandMin(band: Column, xmin: Column): Column =
    greatest(floor(pow(lit(PpjBandRatio), band) * lit(0.999)).cast("int"), xmin, lit(1))

  /** Required-overlap α(m, sz) for a probe entry emitted to a band of
    * minimum size m (same fp nudge discipline as the prefix lengths). */
  private def ppjAlpha(mK: Column, szc: Column, threshold: Double): Column =
    ceil(lit(threshold / (1.0 + threshold)) * (mK + szc).cast("double") - lit(1e-9))

  /** Group+gram composite key for heavy-gram detection/salting: the
    * group columns (stringified) and the gram, NUL-joined. */
  private def grpGramKey(groupCols: Seq[String]): Column =
    concat_ws("\u0000", (groupCols.map(c => col(c).cast("string")) :+ col("gram")): _*)

  /** The collapse-then-expand body of [[ngramJaccardPairs]] — see its
    * scaladoc for the result-identity argument.
    *
    * The collapse is HASH-PRESCREENED so a mostly-unique corpus never
    * pays a text-carrying shuffle for it: a narrow (hash) aggregate
    * finds the duplicated (group, text) hashes first (ids and 8-byte
    * hashes only), and ONLY docs matching a duplicated hash carry
    * their text into the (group, text) grouping — unique docs pass
    * straight through as their own representatives. The hash only
    * prescreens: grouping is by the actual text, so a hash collision
    * between different texts costs a few extra grouped rows, never
    * correctness. The duplicated-hash set is aggregate output (≤ one
    * row per duplicated text), so AQE broadcasts both prescreen joins
    * on real corpora; on a replica-saturated corpus it degrades to a
    * keyed join — exactly the corpus where the collapse pays for
    * itself. The dispatch probe then sees the COLLAPSED corpus, so
    * replica saturation can no longer push it into the prefix plan.
    * (This path only runs when the caller's dup probe found > 5%
    * exact-dup mass, so the prescreen is a second-order economy: it
    * keeps the 95%-unique docs of a 5%-dup corpus off the text
    * shuffle.) */
  private def ngramJaccardPairsCollapsed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int,
      threshold: Double,
      maxExpansion: Double,
      probeFraction: Double
  ): DataFrame = {
    val keyed = df
      .select((col(idCol).as("__gid") +: lower(col(textCol)).as("__txt") +: groupCols.map(col)): _*)
      // null text ⇒ null gram array ⇒ the raw pipeline drops the doc at
      // explode and it can never pair — exclude it from collapse too.
      // NON-null text always has ≥ 1 gram (CharNgrams keeps the short
      // tail gram, even "" → [""]), so for any non-null duplicate pair
      // the jac-1.0 intra rule matches the raw posting join exactly.
      // A null GROUP key is likewise pair-sterile in the raw pipeline
      // (the posting join's `a.g === b.g` is null, never true), so
      // null-group docs must not collapse into an intra-pair-emitting
      // group either — groupBy would happily bucket them together.
      .filter((col("__txt").isNotNull +: groupCols.map(col(_).isNotNull)).reduce(_ && _))
      .withColumn("__th", xxhash64((groupCols.map(col) :+ col("__txt")): _*))
    // narrow prescreen: duplicated (group, text) hashes — 8-byte rows
    val dupHashes = keyed
      .groupBy(col("__th")).agg(count(lit(1)).as("__hcnt"))
      .filter(col("__hcnt") > 1)
      .select(col("__th"))
    val dupDocs = keyed.join(dupHashes, Seq("__th"))
    val uniqueDocs = keyed.join(dupHashes, Seq("__th"), "left_anti")
    // only dup-candidate docs carry text into the grouping shuffle;
    // grouping by the ACTUAL text keeps hash collisions harmless.
    // NO member arrays are collected here: a k-replica boilerplate
    // cluster (10⁸ crawl snapshots of one page) would otherwise put
    // every id into ONE collect_list aggregation buffer — a multi-GB
    // single row, executor OOM in exactly the corpus this route is
    // dispatched for. The aggregate carries only (rep, cnt).
    val repTable = dupDocs
      .groupBy((groupCols.map(col) :+ col("__txt")): _*)
      .agg(min(col("__gid")).as("__rep"), count(lit(1)).as("__cnt"))
    val reps = repTable
      .select((col("__rep").as(idCol) +: col("__txt").as(textCol) +: groupCols.map(col)): _*)
      .unionByName(uniqueDocs
        .select((col("__gid").as(idCol) +: col("__txt").as(textCol) +: groupCols.map(col)): _*))
    val repPairs = ngramJaccardPairs(reps, idCol, textCol, groupCols, n, threshold,
      maxExpansion, probeFraction, collapseExact = false)
    // BOUNDED membership chunks: members sub-bucketed by hash(id) into
    // ceil(cnt / MaxChunk) buckets, so every collect_list buffer (and
    // every downstream explode lineage) holds ~MaxChunk ids regardless
    // of cluster depth — the k² expansion becomes a rep-keyed join of
    // bounded chunks emitting the same pair set, distributed instead
    // of exploding from single rows. __rep is unique per cluster (the
    // min id of a distinct (group, text) member set), so chunks key on
    // it alone.
    val chunks = dupDocs
      .join(repTable.hint("shuffle_hash"), (groupCols.map(_.toString) :+ "__txt"))
      .withColumn("__bk", pmod(xxhash64(col("__gid")),
        greatest(lit(1L), ceil(col("__cnt").cast("double") / lit(MaxCollapseChunk)).cast("long"))))
      .groupBy(col("__rep"), col("__bk"))
      .agg(sort_array(collect_list(col("__gid"))).as("__members"))
    // cross expansion: every member of a's cluster × every member of
    // b's cluster shares the representative pair's jaccard; clusters
    // are disjoint, so least/greatest restores the id_a < id_b
    // contract. Multi-chunk clusters contribute one row per chunk —
    // the joins enumerate every chunk combination exactly once.
    // Unique docs have no membership row — coalesce to the singleton.
    val mem = chunks.select(col("__rep"), col("__members"))
    val cross = repPairs
      .join(mem.select(col("__rep").as("id_a"), col("__members").as("__ma")), Seq("id_a"), "left")
      .join(mem.select(col("__rep").as("id_b"), col("__members").as("__mb")), Seq("id_b"), "left")
      .select(
        explode(coalesce(col("__ma"), array(col("id_a")))).as("__a"),
        coalesce(col("__mb"), array(col("id_b"))).as("__mb"),
        col("jac"))
      .select(col("__a"), explode(col("__mb")).as("__b"), col("jac"))
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"), col("jac"))
    // intra expansion: identical non-empty gram sets are jaccard 1.0
    // pairs (inter = union = sz) — exactly what the raw posting join
    // emits for them; their count is output-sized, not pipeline-sized.
    // Triangular chunk self-join: bucket pair (i, j) with i < j emits
    // all cross-chunk pairs once, i == j emits the within-chunk
    // id-ordered pairs — ≤ MaxChunk² rows from any one joined row.
    val intra = chunks.as("x")
      .join(chunks.as("y"),
        col("x.__rep") === col("y.__rep") && col("x.__bk") <= col("y.__bk"))
      .select(col("x.__bk").as("__bka"), col("y.__bk").as("__bkb"),
        explode(col("x.__members")).as("__a"), col("y.__members").as("__mb"))
      .select(col("__bka"), col("__bkb"), col("__a"), explode(col("__mb")).as("__b"))
      .filter(col("__bka") < col("__bkb") || col("__a") < col("__b"))
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"), lit(1.0).as("jac"))
      .filter(lit(1.0) >= threshold)
    cross.unionByName(intra)
  }

  /** Target member count per collapse chunk — bounds every membership
    * collect_list buffer and every member×member expansion lineage to
    * chunk-sized units (256² = 65k rows from one chunk-pair row). */
  private val MaxCollapseChunk = 256

  /** Direct posting self-join variant: fastest when gram frequencies are
    * near-uniform (small dense corpora); quadratic in the hottest gram —
    * use [[ngramJaccardPairs]] unless the corpus shape is known. */
  def ngramJaccardPairsDense(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.35
  ): DataFrame = denseFromPostings(gramPostings(df, idCol, textCol, groupCols, n), groupCols, threshold)

  private[graft] def denseFromPostings(
      ex: DataFrame, groupCols: Seq[String], threshold: Double,
      heavyKeys: Seq[String] = Nil,
      numPartitions: Option[Int] = None): DataFrame = {
    // volume-sized join partitioning (see the dispatcher): an explicit
    // repartition on the join's cluster keys IS the join's exchange
    // (co-partitioned subsets satisfy its distribution), just at the
    // width the estimated output volume needs instead of the session
    // default; None keeps the plan untouched
    def sized(d: DataFrame, keys: Seq[Column]): DataFrame =
      numPartitions.fold(d)(n => d.repartition(n, keys: _*))
    // shuffle_hash: the per-key gram buckets are small and uniform, so a
    // hash join skips the two 0.9M-row sorts a sort-merge join would pay
    // (measured 9.4s -> ~4s at sf0.1).
    // TARGETED SALTING of the probe-detected heavy grams: the one side
    // scatters a heavy posting to salt = hash(id) % S while the other
    // replicates its heavy postings across all S salts, so each pair
    // still meets exactly ONCE (at the scatter side's salt) and the
    // hot (group, gram) partition's quadratic work spreads over S
    // tasks. Light grams keep salt 0 on both sides — same distribution
    // as the unsalted plan. heavyKeys empty (the common uniform
    // corpus) takes the identical unsalted plan.
    val S = 16
    val keyCols = groupCols.map(col) :+ col("gram")
    val (a, b, saltCond) =
      if (heavyKeys.isEmpty)
        (sized(ex, keyCols).as("a"), sized(ex, keyCols).as("b").hint("shuffle_hash"), Nil)
      else {
        val isHeavy = grpGramKey(groupCols).isInCollection(heavyKeys)
        val aS = ex.withColumn("__salt",
          explode(when(isHeavy, sequence(lit(0), lit(S - 1))).otherwise(sequence(lit(0), lit(0)))))
        val bS = ex.withColumn("__salt",
          when(isHeavy, pmod(xxhash64(col("id")), lit(S)).cast("int")).otherwise(lit(0)))
        // salted: the partition key must INCLUDE the salt, or the hot
        // gram's scattered rows land back in one partition
        val saltKeys = keyCols :+ col("__salt")
        (sized(aS, saltKeys).as("a"), sized(bS, saltKeys).as("b").hint("shuffle_hash"),
          Seq(col("a.__salt") === col("b.__salt")))
      }
    // The gram key stays a STRING here, unlike the prefix route's
    // xxhash64 long: this join's count(*) IS the intersection, so a
    // hash collision would inflate `inter` and flip a boundary pair —
    // the prefix route tolerates collisions only because its exact
    // verify recomputes the intersection from the full arrays.
    // PPJoin length filter, result-identical: jac >= t forces
    // t·|a| <= |b| and t·|b| <= |a| (inter <= min, union >= max), so
    // size-mismatched pairs leave the join before the counting shuffle
    val joinCond = (groupCols.map(c => col(s"a.$c") === col(s"b.$c")) ++ saltCond :+
      (col("a.gram") === col("b.gram")) :+ (col("a.id") < col("b.id")) :+
      (col("b.sz").cast("double") >= lit(threshold) * col("a.sz")) :+
      (col("a.sz").cast("double") >= lit(threshold) * col("b.sz"))).reduce(_ && _)
    a.join(b, joinCond)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(
        "jac",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double")
      )
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /**
   * Prefix-filtered variant of [[ngramJaccardPairs]] (PPJoin): a pair
   * with jaccard >= t must share a gram inside each document's
   * "prefix" — the first |g| - ceil(t·|g|) + 1 grams when grams are
   * ordered by global rarity. Candidate generation joins ONLY prefix
   * postings (a ~t fraction of the index, and rare-gram postings are
   * short), then candidates are verified exactly with the full counting
   * join. Same results as the unfiltered operator (spec-proven).
   *
   * Pick by data shape: the filter pays a frequency aggregation and a
   * per-doc window; it wins when gram frequencies are heavy-tailed and
   * the full posting self-join dominates (real web corpora at scale),
   * and loses on small dense-vocabulary corpora where nearly every
   * pair is a candidate anyway (measured 10s vs 2s on the synthetic
   * sf0.1 docs). [[ngramJaccardPairs]] picks per corpus via the skew
   * probe.
   */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.35,
      numPartitions: Option[Int] = None
  ): DataFrame = prefixPairs(df, idCol, textCol, groupCols, n, threshold, numPartitions)

  /**
   * Full PPJoin (Xiao et al., WWW 2008 §3.2-3.3): prefix filter +
   * POSITIONAL filter + SUFFIX filter, then array-merge verification
   * — no corpus-wide counting join anywhere.
   *
   *  1. RARITY ORDER for candidate generation: each (gram, per-group
   *     gf) is packed into ONE sortable string — gf zero-padded to
   *     fixed width, gram appended — and each doc's tokens are
   *     collected + sorted once (no window sort). Positions in this
   *     order feed every positional bound; the bare gram (the tok
   *     minus its 10-char gf pad) is the narrow join key.
   *  2. ASYMMETRIC PREFIXES, pairs ordered by (sz, id): for a pair
   *     with szX <= szY the required overlap is α = ⌈t/(1+t)(szX+szY)⌉
   *     >= ⌈2t/(1+t)·szX⌉, so the SMALLER side only needs its first
   *     szX - ⌈2t/(1+t)·szX⌉ + 1 tokens in the join (the paper's
   *     indexing prefix — ~0.48·sz at t=0.35 vs the probing side's
   *     standard sz - ⌈t·sz⌉ + 1 ~ 0.65·sz); candidate volume drops
   *     by the same fraction. Every ceil is fp-nudged DOWN 1e-9 so a
   *     floating product landing epsilon above an exact integer can
   *     only lengthen a prefix (safe), never shorten it (lossy).
   *  3. POSITIONAL filters, all compared in the double domain exactly
   *     as the final jac filter: per matched ROW the weak bound
   *     min(px, py) + 1 + min(szX-px-1, szY-py-1) and the
   *     pair-dependent prefix bounds szX - px >= α(szX, szY) - 1,
   *     szY - py >= α - 1 — IN the join condition, so mismatched
   *     matches die before the pair aggregate (the first-shared row
   *     of any above-threshold pair provably satisfies all three);
   *     then per PAIR, the FIRST shared token (min position struct —
   *     one shared order, so no shared token precedes it) gives the
   *     paper's tight bound 1 + min(szX-px-1, szY-py-1).
   *  4. SUFFIX + VERIFY ([[graft.functions.expressions.PpjVerify]]):
   *     candidates join per-doc LEXICOGRAPHIC gram arrays — built
   *     narrowly from the source text (no freq join, no shuffle; ~n
   *     bytes per token vs the 14-byte rarity toks) and broadcast
   *     when the corpus-size probe allows — where the recursive
   *     partition-probe hamming bound kills surviving false
   *     candidates in O(log) comparisons and the exact intersection
   *     is an early-terminating merge; output-sized rows.
   */
  private def prefixPairs(
      df: DataFrame, idCol: String, textCol: String, groupCols: Seq[String],
      n: Int, threshold: Double, numPartitions: Option[Int] = None): DataFrame = {
    val ex = gramPostings(df, idCol, textCol, groupCols, n)
    val freq = ex.groupBy((groupCols.map(col) :+ col("gram")): _*).agg(count(lit(1)).as("gf"))
    // rarity-ordered token arrays (prefix extraction only)
    val rarToks = rarityArrays(ex, freq, groupCols)
    // SIZE BANDING (r13): geometric size bands (ratio PpjBandRatio)
    // join the band id alongside the gram, so (i) a probe entry only
    // scans the posting bucket of partners its length filter could
    // accept, and (ii) the probe prefix emitted TO a band is sized by
    // that band's minimum partner size m — prefLen = sz − α(m, sz) + 1
    // — which approaches the 2t/(1+t) INDEX prefix for same-size bands
    // instead of the worst-case sz − ⌈t·sz⌉ + 1 against all sizes.
    // Correctness: for a qualifying pair x ≤ y the first shared token
    // sits within BOTH prefixes of length sz − α(x,y) + 1; x's index
    // prefix uses α ≥ ⌈2t/(1+t)·szX⌉ and y's band prefix uses
    // α(m, szY) ≤ α(x, y) since m ≤ szX (m underestimates: the pow()
    // band floor is shaved 0.1% so fp can only LENGTHEN a prefix) —
    // so banding changes join INPUT volume, never the pair set, and
    // the per-pair positional bounds already in the join condition are
    // strictly tighter than the band cut (spec: route identity).
    // Bands a probe could pair with but that hold no documents are
    // pruned by a broadcast occupancy join (groupCols are bounded
    // corpus partitions, so (group, band) stays tiny) — a uniform-size
    // corpus then pays ZERO band fan-out.
    // the gram is ONLY a join key from here on (pairs go to verify by
    // id) — hash it to a long: narrower shuffle rows, long-key hash
    // join. Group equality stays in the join, so a 64-bit collision
    // can only ADD a same-group join ROW; extra candidates die in the
    // exact verify, and the pair-level positional aggregate below is
    // the collision-safe MAX form (see its comment — a min-"first
    // shared" aggregate could let a fake row's positions wrongly
    // TIGHTEN the bound). Pair set provably unchanged under both
    // effects (route-identity spec).
    def bandOf(szc: Column): Column = ppjBandOf(szc)
    val idxPref = rarToks
      .select((col("id") +: col("sz") +: bandOf(col("sz")).as("band") +: groupCols.map(col) :+
        posexplode(slice(col("toks"), lit(1), idxPrefLen(threshold))).as(Seq("pos", "tok"))): _*)
      .select((col("id") +: col("sz") +: col("band") +: col("pos") +:
        xxhash64(substring(col("tok"), 11, n + 1)).as("gram") +: groupCols.map(col)): _*)
    // occupancy needs only each doc's distinct-gram count — one narrow
    // text scan, NOT the rarityArrays subtree (whose freq join + array
    // build would otherwise be recomputed a third time just for this)
    val occ = df
      .select((size(GraftFunctions.call("graft_char_ngrams", lower(col(textCol)), lit(n))).as("sz") +:
        groupCols.map(col)): _*)
      .filter(col("sz") > 0)
      .select((bandOf(col("sz")).as("band") +: groupCols.map(col)): _*)
      .distinct()
    val xmin = ppjXmin(col("sz"), threshold)
    val mK = ppjBandMin(col("band"), xmin)
    val alphaK = ppjAlpha(mK, col("sz"), threshold)
    val pref = rarToks
      .select((col("id") +: col("sz") +: col("toks") +: groupCols.map(col) :+
        explode(sequence(bandOf(xmin), bandOf(col("sz")))).as("band")): _*)
      .join(broadcast(occ), (groupCols :+ "band").toSeq)
      .withColumn("plen",
        greatest(least((col("sz") - alphaK + 1).cast("int"), probePrefLen(threshold)), lit(0)))
      .select((col("id") +: col("sz") +: col("band") +: groupCols.map(col) :+
        posexplode(slice(col("toks"), lit(1), col("plen"))).as(Seq("pos", "tok"))): _*)
      .select((col("id") +: col("sz") +: col("band") +: col("pos") +:
        xxhash64(substring(col("tok"), 11, n + 1)).as("gram") +: groupCols.map(col)): _*)
    // jac upper-bound test in the SAME division form as the final
    // filter and PpjVerify.minOverlap (ub/(S-ub) >= t) — the earlier
    // multiplication form ub >= t*(S-ub) can disagree with it by 1 ulp
    // at an exact boundary, so "pruning never flips a boundary pair"
    // is only literally guaranteed with the forms identical
    def jacCan(ub: Column, szA: Column, szB: Column): Column =
      ub.cast("double") / ((szA + szB).cast("double") - ub.cast("double")) >= lit(threshold)
    val ubRow = least(col("a.pos"), col("b.pos")) + lit(1) +
      least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1)
    // pair-dependent prefix bound: the first-shared row of a pair with
    // overlap >= α has szX - px >= α and szY - py >= α; α >= the
    // double form minus 1e-6, so the -1 slack keeps the cut safe
    val alphaD = lit(threshold / (1.0 + threshold)) * (col("a.sz") + col("b.sz")).cast("double")
    // volume-sized candidate-join partitioning (the denseFromPostings
    // discipline): an explicit repartition on the join's cluster keys
    // IS the join's exchange, at the width the dispatcher's estimated
    // candidate volume needs; None keeps the plan untouched
    def sized(d: DataFrame): DataFrame =
      numPartitions.fold(d)(np =>
        d.repartition(np, (groupCols.map(col) :+ col("gram") :+ col("band")): _*))
    val cands = sized(idxPref).as("a")
      .join(
        sized(pref).as("b").hint("shuffle_hash"),
        (groupCols.map(c => col(s"a.$c") === col(s"b.$c")) :+
          (col("a.gram") === col("b.gram")) :+
          // size-band key: a probe entry only scans the posting bucket
          // of partners its length filter could accept
          (col("a.band") === col("b.band")) :+
          // (sz, id) pair order: the index-prefix side is the smaller doc
          ((col("a.sz") < col("b.sz")) ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))) :+
          // PPJoin length filter — size-mismatched pairs never leave the join
          (col("a.sz").cast("double") >= lit(threshold) * col("b.sz")) :+
          // pair-dependent positional prefix bounds (see above)
          ((col("a.sz") - col("a.pos")).cast("double") >= alphaD - lit(1.000001)) :+
          ((col("b.sz") - col("b.pos")).cast("double") >= alphaD - lit(1.000001)) :+
          // row-level weak positional filter
          jacCan(ubRow, col("a.sz"), col("b.sz"))).reduce(_ && _)
      )
      .groupBy(col("a.id").as("id_x"), col("b.id").as("id_y"),
        col("a.sz").as("sz_x"), col("b.sz").as("sz_y"))
      // COLLISION-SAFE pair-level positional bound (hash-aggregates —
      // max(int)): the MAX over surviving join rows of the per-row
      // tight bound 1 + min(szX−pa−1, szY−pb−1). The gram key is a
      // 64-bit hash, so a collision row can carry positions of tokens
      // the pair does NOT actually share; the earlier min-packed
      // "first shared" aggregate let such a row win the min and
      // TIGHTEN the bound below the true first-shared row's — wrongly
      // pruning an above-threshold pair before verify (r13 review
      // find; ~2⁻⁶⁴ per token pair, but the route-identity contract is
      // exact, not probabilistic). The max form is ≥ the true
      // first-shared bound whenever the pair qualifies (hashing only
      // ADDS rows, so the true rows are all present), keeping the
      // filter a necessary condition; fake rows can only loosen it,
      // and the residual permissiveness dies in the exact verify.
      .agg(max(lit(1) +
        least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1)).as("ub"))
      .filter(jacCan(col("ub"), col("sz_x"), col("sz_y")))
    // suffix filter + exact verification over narrow LEXICOGRAPHIC
    // arrays, computed from the text with no shuffle and broadcast
    // when the corpus is probe-verifiably small (the candidate side
    // then never moves); the -1 seeds tell the kernel the positions
    // are rarity-order, not lexicographic
    val lexToks = df.select(col(idCol).as("id"),
      array_sort(GraftFunctions.call("graft_char_ngrams", lower(col(textCol)), lit(n))).as("lt"))
    // broadcast gate on the ACTUAL payload, not raw text bytes: the
    // broadcast rows are per-doc distinct char-ngram ARRAYS — roughly
    // one n-char UTF8String plus ~16B of array-entry/offset overhead
    // per text character (grams ≤ chars), i.e. ~(n+17)× the text
    // bytes — so a 64MB-of-TEXT bound silently admitted ~1GB of
    // broadcast. The char-sum probe (one cheap scan, only run once
    // the count probe already passed) is scaled by the per-char
    // expansion and budgeted at 256MB of estimated PAYLOAD — losing
    // the broadcast is expensive (the candidate side, often 10-100M
    // rows on near-dup-dense corpora, then shuffles TWICE), so the
    // budget is a deliberate executor-memory-sized ceiling, not the
    // plain autoBroadcast default.
    val small = smallCorpus(df, idCol, 1L << 16) && {
      val b = df.agg(sum(length(col(textCol)))).head()
      !b.isNullAt(0) && b.getLong(0) * (n + 17L) <= (256L << 20)
    }
    def side(as: String, out: String) = {
      val s = lexToks.select(col("id").as(as), col("lt").as(out))
      if (small) broadcast(s) else s.hint("shuffle_hash")
    }
    cands
      .join(side("id_x", "ta"), "id_x")
      .join(side("id_y", "tb"), "id_y")
      .select(col("id_x"), col("id_y"), col("sz_x"), col("sz_y"),
        GraftFunctions.call("graft_ppj_verify",
          col("ta"), col("tb"), lit(-1), lit(-1), lit(threshold)).as("inter"))
      .filter(col("inter") >= 0)
      .withColumn(
        "jac",
        col("inter").cast("double") / (col("sz_x") + col("sz_y") - col("inter")).cast("double")
      )
      .filter(col("jac") >= threshold)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("jac"))
  }

  /**
   * Sign-LSH banding sized for a cosine threshold: the LARGEST
   * bits-per-band r (fewest background collisions) whose band count
   * still drives the at-threshold miss probability below `missTarget`
   * within one 64-bit signature. A pair at cosine t agrees on a random
   * hyperplane's sign with p = 1 − acos(t)/π, collides in an r-bit
   * band with p^r, and escapes all b bands with (1 − p^r)^b — the same
   * bound discipline as the minhash 32×2 banding. Pairs ABOVE the
   * threshold miss strictly less. Note the honest LSH tradeoff: when
   * the corpus' background similarity approaches t, band collisions
   * approach all-pairs and the exact verify (correct regardless) does
   * the work — sign-LSH prunes by SEPARATION, not by threshold alone.
   */
  def signBanding(threshold: Double, missTarget: Double = 1e-6, bitBudget: Int = 64): (Int, Int) = {
    val t = math.min(math.max(threshold, -1.0), 1.0)
    val p = 1.0 - math.acos(t) / math.Pi
    val fit = (bitBudget to 1 by -1).iterator.flatMap { r =>
      val pr = math.pow(p, r)
      if (pr >= 1.0) None // t ≈ 1: identical signs, any banding catches
      else {
        // stay in double domain: for large r the band count explodes and
        // an Int cast would overflow straight past the budget check
        val bD = math.max(1.0, math.ceil(math.log(missTarget) / math.log1p(-pr)))
        if (bD * r <= bitBudget) { val b = bD.toInt; Some((r * b, b)) } else None
      }
    }
    fit.nextOption().getOrElse((bitBudget, bitBudget / 2))
  }

  /** Corpus-size bound under which the low-threshold embedding path
    * stays on the EXACT all-pairs verify: 2^14 vectors is ~134M pairs —
    * trivially affordable, and it keeps every validation-scale run
    * (sf0.01 gate, sf0.1 recall checks) bit-exact against brute force.
    * Past the bound the all-pairs plan is the one shape that cannot
    * survive a 100 TB corpus, so the dispatch switches to the
    * IVF-cell-partitioned variant ([[embeddingPairsIvf]]). */
  val LowThresholdBruteBound: Long = 1L << 14

  /** Bounded corpus-size probe shared by the brute-vs-IVF dispatchers
    * (embeddingPairs, Ann.knnJoin): scans at most bound+1 ids, never
    * the corpus. Returns `Some(n)` — the EXACT corpus size, free for
    * the IVF machinery's `knownCount` — when the corpus fits under
    * `bound`, `None` when it doesn't (the limit short-circuited, so n
    * is unknown). `bound ≥ Int.MaxValue` skips the probe (forced
    * small, size reported unknown-but-small as Some(-1) is unsafe —
    * callers on that branch never need n), `bound ≤ 0` is forced
    * large. */
  private[operators] def probedCount(df: DataFrame, idCol: String, bound: Long): Option[Long] =
    if (bound <= 0) None
    else if (bound >= Int.MaxValue) Some(Long.MaxValue)
    else {
      val c = df.select(col(idCol)).limit(bound.toInt + 1).count()
      if (c <= bound) Some(c) else None
    }

  private[operators] def smallCorpus(df: DataFrame, idCol: String, bound: Long): Boolean =
    probedCount(df, idCol, bound).isDefined

  /**
   * Embedding near-duplicate pairs via random-hyperplane LSH: sign-bit
   * signature over `planes` pseudo-random hyperplanes (deterministic,
   * hash-generated — no RNG state to ship), banded for candidates, then
   * exact cosine >= threshold. With `planes`/`bands` ≤ 0 (the default)
   * the banding is sized from the threshold via [[signBanding]], so the
   * "every ≥-threshold pair is found" claim holds to the declared miss
   * bound on ANY data instead of depending on the corpus' luck with a
   * fixed 16×4 layout.
   *
   * Low-threshold dispatch: thresholds low enough to force r ≤ 2 bits
   * per band (t ≲ 0.6) have NO sub-quadratic exact path under sign-LSH
   * — that is a property of the problem, not the plan. Below
   * `bruteBound` vectors the exact all-pairs verify runs (bit-exact,
   * affordable); above it the IVF-cell-partitioned variant runs
   * instead (sub-quadratic, recall measured — see
   * [[embeddingPairsIvf]]). `bruteBound ≤ 0` forces the IVF path;
   * `Long.MaxValue` forces brute.
   */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 0,
      bands: Int = 0,
      threshold: Double = 0.97,
      maxBucket: Option[Int] = None,
      bruteBound: Long = LowThresholdBruteBound,
      missTarget: Double = 1e-6 // recall/cost dial, see minhashJaccardPairs
  ): DataFrame = {
    val (planes1, bands1) =
      if (planes > 0 && bands > 0) (planes, bands) else signBanding(threshold, missTarget)
    // Dispatch on whether the banding can prune AT ALL (the ngram skew
    // probe's sibling): with r ≤ 2 bits per band, even orthogonal pairs
    // collide in some band w.p. ≥ 1-(3/4)^b ≈ 1 — the "candidates" are
    // all pairs, duplicated per band. Exact verify handles the small
    // corpus; the IVF cell decomposition handles the large one.
    if (planes1 / bands1 <= 2) {
      if (smallCorpus(df, idCol, bruteBound)) embeddingPairsBrute(df, idCol, vecCol, threshold)
      else embeddingPairsIvf(df, idCol, vecCol, threshold)
    } else embeddingPairsSized(df, idCol, vecCol, planes1, bands1, threshold, maxBucket)
    // (the large branch's one full count lives inside embeddingPairsIvf,
    // reused for cell sizing and the trainer's sampling rate)
  }

  /**
   * IVF-cell-partitioned embedding near-dup pairs — the scale path for
   * LOW cosine thresholds, where sign-LSH banding cannot prune (the
   * SemDeDup construction: coarse-quantize, then pair only within
   * cells). The corpus is coarse-quantized with the [[Ann.ivfTrain]]
   * k-means machinery (bounded driver-side Lloyd on a deterministic
   * hash sample); every vector lands in its `probes` nearest cells
   * (multi-probe recovers most cell-boundary pairs), candidates are
   * generated by a WITHIN-CELL self-join on (cell, id) only — id-only
   * shuffles, never all-pairs — and each candidate is exact-cosine
   * verified, so false positives are structurally impossible. Work is
   * Σ_cells |cell|²/2 ≈ N²·probes²/(2·numCells) — a numCells/probes²
   * reduction over brute force that holds at any corpus size because
   * `numCells` is sized from the corpus (at ~256 vectors per cell —
   * sized so cells ≫ probes² already AT the 2^14 dispatch flip; see
   * the sizing comment below for the measured cliff the old 2048/cell
   * target caused there).
   *
   * APPROXIMATE at cell boundaries: a ≥-threshold pair whose members
   * quantize to disjoint probe sets is missed. Recall vs brute force
   * is measured (at sf0.1 and past the 2^14 flip — SURVEY.md §2.9,
   * q_dedup_embed — and in DedupSpec at spec scale) rather than
   * bounded analytically — the honest trade for sub-quadratic
   * low-threshold dedup; raise `probes` to buy recall with candidate
   * volume (∝ probes²).
   * Measured at sf0.1, t=0.5, 16 cells: probes=2 recall 0.857,
   * probes=3 recall 0.929, probes=4 no further gain — the default is
   * the knee. At the 20k-vector boundary (78 cells): probes=2/3/4
   * recall 0.985/0.990/0.994, IVF 1.7-2.6s vs spread brute 3.7s.
   * Output is always a deterministic SUBSET of the brute result
   * (hash-seeded training, exact verification).
   */
  def embeddingPairsIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCells: Int = 0,
      probes: Int = 3,
      trainSample: Long = 20000L,
      knownCount: Long = -1L, // corpus size if the caller already counted (skips a pass)
      centroids: Array[Array[Float]] = null // pre-trained flat quantizer; skips ivfTrain
  ): DataFrame = {
    val spark = df.sparkSession
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (centroids != null) {
      // caller supplies the quantizer (e.g. one trained set shared
      // across probe settings, or a persisted index) — assignment only
      val assigned = vecs.select(
        col("id"), col("vec"),
        explode(Ann.nearestCentroids(
          col("vec"), Ann.bcastTable(spark, centroids), probes)).as("cell"))
      return withinCellPairs(assigned, threshold)
    }
    // one narrow counting pass sizes the cells AND feeds the trainer
    // (ivfTrain would otherwise count again for its sampling rate);
    // null-filtered — only vectors with geometry size cells or train
    val n = if (knownCount >= 0L) knownCount
            else vecs.filter(col("vec").isNotNull).count()
    // ~256 vectors/cell: within-cell work is n²·probes²/(2·cells), so
    // the reduction over brute force is cells/probes² — at the old
    // 2048/cell a 20k corpus got 16 cells against probes² = 9 (0.56×,
    // i.e. MORE work than brute at a higher per-row cost: the measured
    // 85s flip cliff); 256/cell gives ~9× reduction at the 2^14 flip
    // and keeps growing with n. A FLAT table caps at 512 cells: the
    // binding constraint is the DRIVER-side Lloyd (trainSample ×
    // numCells × dim × iters single-threaded — 4096 cells would be
    // ~10^13 flops), not the ~2 MB table; past the cap (~131k vectors)
    // the TWO-LEVEL quantizer takes over: √cells coarse × √cells fine
    // trains two small tables and keeps per-row assignment at
    // (c1 + p1·c2)·dim while the effective cell count keeps scaling
    // with the corpus.
    val wanted = math.max(16L, n / 256L)
    if (numCells <= 0 && wanted > 512L) {
      val side = math.ceil(math.sqrt(wanted.toDouble)).toInt
      return embeddingPairsIvfHier(df, idCol, vecCol, threshold, c1 = side, c2 = side,
        trainSample = trainSample, knownCount = n)
    }
    val cells = if (numCells > 0) numCells else math.min(512L, wanted).toInt
    // xxhash64(id) as the training id: ivfTrain's sampling/seeding wants
    // a long key, this keeps the operator id-type-agnostic and just as
    // deterministic (training only uses ids to pick/seed the sample)
    val cents = Ann.ivfTrain(
      spark, vecs.select(xxhash64(col("id")).as("vec_id"), col("vec").as("embedding")),
      numCells = cells, trainSample = trainSample, knownCount = n)
    // vectors ride INTO the cells (n·probes rows) so the verify fuses
    // into the within-cell join — see withinCellPairs
    val assigned = vecs.select(
      col("id"), col("vec"),
      explode(Ann.nearestCentroids(
        col("vec"), Ann.bcastTable(spark, cents), probes)).as("cell"))
    withinCellPairs(assigned, threshold)
  }

  /**
   * Two-level variant of [[embeddingPairsIvf]] for corpora whose cell
   * count outgrows a flat table: c1·c2 effective cells at
   * (c1 + p1·c2)·dim per-row assignment cost ([[Ann.ivfTrainHier]]).
   * Multi-probe is p1 coarse × p2 fine cells per vector. Same
   * exact-verify guarantee (subset of brute force, no false
   * positives); boundary recall now has two levels of cell edges —
   * measured in DedupSpec alongside the flat path. [[embeddingPairs]]
   * auto-routes here when the corpus would need > 512 flat cells
   * (~131k vectors at the 256/cell target — the cap is the driver-side
   * Lloyd's trainSample × cells × dim cost, not the table size).
   */
  def embeddingPairsIvfHier(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      c1: Int,
      c2: Int,
      p1: Int = 2,
      p2: Int = 2,
      trainSample: Long = 20000L,
      knownCount: Long = -1L // corpus size if already counted (skips a pass)
  ): DataFrame = {
    val spark = df.sparkSession
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val (l1, l2) = Ann.ivfTrainHier(
      spark, vecs.select(xxhash64(col("id")).as("vec_id"), col("vec").as("embedding")),
      c1, c2, trainSample = trainSample, knownCount = knownCount)
    val assigned = vecs.select(
      col("id"), col("vec"),
      explode(Ann.nearestCellsHier(col("vec"),
        Ann.bcastTable(spark, l1), Ann.bcastTable(spark, l2), p1, p2)).as("cell"))
    withinCellPairs(assigned, threshold)
  }

  /** Shared IVF tail: cell-keyed self-join with the exact cosine verify
    * FUSED into the join condition — shuffles n·probes (id, vec, cell)
    * rows (the vectors are the payload, but n·probes is corpus-sized)
    * and never materializes a candidate row. Multi-probe pairs sharing
    * several cells are verified once per shared cell and deduped on the
    * OUTPUT-sized result (graft_cosine is deterministic, so duplicate
    * rows are identical). The previous shape — id-only candidate join,
    * distinct, then TWO vector re-attach joins — paid three shuffles of
    * the CANDIDATE volume; candidates are only "far smaller" than n²
    * when cells ≫ probes², and at the 2^14 dispatch flip (16 cells,
    * probes 3) they were ~0.56·n²: measured 85-143s at 20k vectors
    * where this fused shape runs in seconds. */
  private def withinCellPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    // per-vector norm computed ONCE per assigned row, BELOW the cell
    // exchange — each candidate then pays one dot product instead of
    // dot + two norms (3× fewer FLOPs on the dominant stage; the
    // Ann.cosFromNorms discipline). The NaN→null guard is LOAD-BEARING
    // here exactly as in graft_cosine's scaladoc: Spark orders NaN
    // ABOVE every number, so a raw 0/0 quotient from a zero-norm or
    // NaN-element vector would satisfy ANY `>= threshold` and pair the
    // degenerate vector with its whole cell — connected components
    // would then collapse those cells into one cluster. With the
    // guard, dot/(na·nb) is bit-identical to graft_cosine: null (and
    // null-dot mismatch rows) fail `>=`, survivors are real numbers.
    val withN = assigned.withColumn("n",
      sqrt(GraftFunctions.call("graft_dot", col("vec"), col("vec"))))
    def cos = graft.operators.Ann.cosFromNorms(
      col("a.vec"), col("b.vec"), col("a.n"), col("b.n"))
    withN.as("a")
      .join(withN.as("b").hint("shuffle_hash"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id") &&
          cos >= lit(threshold))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), cos.as("cos"))
      .distinct()
  }

  /** Exact all-pairs cosine verify — the degenerate-banding path. */
  private def embeddingPairsBrute(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // spread the probe side: a one-split corpus would run every cosine
    // on a single core (see Ann.spread)
    Ann.spread(vecs.as("a"))
      .crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        GraftFunctions.call("graft_cosine", col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  private def embeddingPairsSized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Option[Int]
  ): DataFrame = {
    val rowsPerBand = planes / bands
    // sign bits against deterministic hyperplanes, packed in a long
    // (native expression — one per-row loop instead of planes×dim lambdas)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val sigs = vecs.select(col("id"), GraftFunctions.call("graft_hyperplane_bits", col("vec"), lit(planes)).as("bits"))
    // candidate generation ships (id, band, bandhash) only; vectors
    // re-attach to the (far smaller) distinct candidate set for the
    // exact cosine verification.
    val banded = sigs
      .select(col("id"), explode(F.signBandKeys(col("bits"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    bandPairs(banded, maxBucket)
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftFunctions.call("graft_cosine", col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Edge bound of a driver-solved pair graph ([[PairGraph]], read by
    * [[connectedComponents]] and [[dedupKeepBest]]). */
  private[graft] val SmallGraphEdges: Long = 1L << 20

  /** Round cap of the distributed star contraction. */
  private val StarRounds = 25

  /**
   * Connected components over a near-dup pair list: (id, component_min).
   * Alternating large-star/small-star (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC'14) — the scale-correct
   * shape: each round is a per-node min aggregation plus a join
   * co-partitioned on the node key (edges only, never vertex state ×
   * neighbors), and the round count is logarithmic in component size,
   * not linear in chain length like naive label propagation.
   * `localCheckpoint` truncates the iterative lineage so plans stay
   * flat. A small graph is solved on the driver ([[PairGraph]]). Input:
   * (id_a, id_b) pairs (any extra columns ignored); output: one row per
   * node appearing in any pair.
   */
  def connectedComponents(pairs: DataFrame): DataFrame =
    new PairGraph(pairs, SmallGraphEdges).components

  /**
   * A near-dup pair graph ((id_a, id_b); extra columns ignored) as
   * [[connectedComponents]] and [[dedupKeepBest]] solve it. `bound` is
   * [[SmallGraphEdges]]; specs pass 0 to force the distributed side.
   *
   * ONE materialization serves the small-graph probe, the contraction
   * loop's starting edges and keep-best's distributed fallback: the
   * upstream pair pipeline is usually the operator's most expensive
   * stage (an IVF candidate join at 140k vectors measures ~38s), and
   * before this checkpoint a large graph executed it TWICE — once for
   * the probe's limit+collect, once for the loop's own first
   * materialization (measured 210-273s → the pipeline-once shape at
   * the 70× corpus). The checkpoint is lazy: the probe's collect
   * materializes it, and the local checkpoint completes any partition
   * the collect's limit left unread, so the pipeline still runs once.
   *
   * Adaptive small-graph path (the AQE-broadcast-join pattern): a
   * near-dup edge list that fits comfortably on the driver is solved
   * with one union-find pass instead of O(log n) iterative shuffle
   * rounds — at gate scale the star-contraction loop is pure
   * fixed-cost Spark-job overhead (~2s for a few hundred edges). The
   * bound check collects AT MOST bound+1 edges FROM THE CHECKPOINT;
   * past the bound the distributed contraction runs unchanged, so a
   * 100 TB corpus whose duplicate graph is genuinely huge never ships
   * its edges to the driver.
   */
  private[graft] final class PairGraph(pairs: DataFrame, bound: Long) {
    // ids keep their native type: star contraction only needs an
    // ordering (min/</>), which every orderable Spark type has — a
    // cast would silently NULL string/UUID ids and drop every edge
    private val idType = pairs.schema("id_a").dataType
    private val edges = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .localCheckpoint(false)

    /** Every member's component minimum, when the graph has at most
      * `bound` edges. */
    private val roots: Option[scala.collection.Map[Any, Any]] =
      if (bound <= 0 || bound >= Int.MaxValue) None
      else {
        val rows = edges.limit(bound.toInt + 1).collect()
        if (rows.length > bound) None
        else {
          val parent = scala.collection.mutable.HashMap.empty[Any, Any]
          def find(x: Any): Any = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          rows.foreach { r =>
            val (ru, rv) = (find(r.get(0)), find(r.get(1)))
            // union by id order so every root is its component minimum
            if (ru != rv) { if (CanonicalOrdering.lt(ru, rv)) parent(rv) = ru else parent(ru) = rv }
          }
          val members = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
          Some(members.iterator.map(m => m -> find(m)).toMap)
        }
      }

    /** (id, component) for every node in a pair. */
    def components: DataFrame = roots match {
      case Some(r) =>
        val spark = pairs.sparkSession
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("component", idType)))
        val out = r.toSeq.map { case (m, c) => org.apache.spark.sql.Row(m, c) }
        spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
      case None => starContraction(edges)
    }

    /** [[dedupKeepBest]] over this graph. */
    def keepBest(df: DataFrame, idCol: String, scoreCol: Column): DataFrame = {
      val scored = df.select(
        col(idCol),
        when(!isnan(scoreCol.cast("double")), scoreCol).as("__score"))
      val clustered = roots match {
        case Some(r) =>
          // winners from the members' scores only, gathered through a
          // map-side semi-join on the broadcast member ids: the member set
          // is bounded by the edge count, so the frame is never collected
          val clusterOf = lookup(col(idCol), r)
          val scores = scored.filter(clusterOf.isNotNull)
            .select(col(idCol).cast(idType), col("__score")).collect()
          // per cluster: the best non-NULL score (NULL loses to any real
          // score), then the min id among its holders — keepBestOf's
          // policy, with scores compared as SQL compares them
          val best = scala.collection.mutable.HashMap.empty[Any, (Any, Any)]
          scores.foreach { row =>
            val (id, sc) = (row.get(0), row.get(1))
            val root = r(id)
            val beats = best.get(root).forall { case (bs, bid) =>
              val cmp = (sc, bs) match {
                case (null, null) => 0
                case (null, _) => -1
                case (_, null) => 1
                case _ => CanonicalOrdering.compare(sc, bs)
              }
              cmp > 0 || (cmp == 0 && CanonicalOrdering.lt(id, bid))
            }
            if (beats) best(root) = (sc, id)
          }
          val winnerOf = best.map { case (root, (_, id)) => root -> id }
          scored
            .select(col(idCol), coalesce(clusterOf, col(idCol)).as("cluster_id"), col("__score"))
            .withColumn("keep_id", coalesce(lookup(col("cluster_id"), winnerOf), col(idCol)))
        case None => keepBestOf(scored, idCol, starContraction(edges))
      }
      clustered.select(
        col(idCol),
        col("cluster_id"),
        col("keep_id"),
        (col(idCol) === col("keep_id")).as("keep"),
        col("__score").as("score"))
    }

    /** `key`'s value in `m` (ids of the graph's type), NULL when absent. */
    private def lookup(key: Column, m: scala.collection.Map[Any, Any]): Column = {
      val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(idType)
      val table = new java.util.HashMap[Any, Any](m.size * 2)
      m.foreach { case (k, v) => table.put(toCatalyst(k), toCatalyst(v)) }
      graft.functions.expressions.BroadcastLookup.column(pairs.sparkSession, key.cast(idType), table, idType)
    }
  }

  /** The distributed side of [[PairGraph.components]] over the
    * checkpointed (u, v) edges `init`. */
  private def starContraction(init: DataFrame): DataFrame = {
    // sym() precondition: `e` is duplicate-free and direction-normalized
    // (input pairs have id_a < id_b; every star round emits high→low
    // edges then distincts), so union-with-reverse cannot create
    // duplicates and needs no shuffle of its own.
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))

    def mins(s: DataFrame): DataFrame =
      s.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))

    // Large-star(u): every neighbor v > u re-attaches to min(Γ(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      s.filter(col("v") > col("u"))
        .join(mins(s), "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Small-star(u): every neighbor v < u re-attaches to the min, and u
    // keeps an edge to it.
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = mins(s)
      s.filter(col("v") < col("u"))
        .join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // fingerprint for convergence: order-insensitive (count, hash-sum);
    // decimal sum cannot overflow under ANSI
    def sig(e: DataFrame): (Long, String) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toString)
    }

    var edges = init // already checkpointed
    var prevSig = sig(edges)
    var converged = false
    var iter = 0
    while (iter < StarRounds && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = sig(next)
      converged = nextSig == prevSig
      prevSig = nextSig
      edges = next
      iter += 1
    }
    // star graphs: every node points at its component min; members = all
    // nodes, each mapped to its root (roots map to themselves)
    val bySrc = edges.select(col("u").as("id"), col("v").as("component"))
    val roots = edges.select(col("v").as("id")).distinct()
      .join(bySrc.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    bySrc.groupBy("id").agg(min(col("component")).as("component"))
      .unionByName(roots)
  }

  /**
   * Corpus dedup driven by near-dup pairs: every document mapped to the
   * canonical (minimum) id of its near-duplicate cluster — docs in no
   * pair are their own canonical. This is the step that turns a pair
   * list into an actually-deduplicated corpus (`keep = id ==
   * canonical_id`).
   */
  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    canonical(df, idCol, connectedComponents(pairs))

  private def canonical(df: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val comp = components
      .select(col("id").as(idCol), col("component").as("canonical_id"))
    df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id")
      )
  }

  /**
   * Quality-aware canonical selection: like [[dedupClusters]], but the
   * kept member of each near-dup cluster is the HIGHEST-SCORING one
   * (ties broken by minimum id), not the minimum id — what production
   * pipelines actually retain (the longest / cleanest / highest-LM
   * copy of a template family), with `scoreCol` any per-doc quality
   * signal (TextAnalysis.qualityScore, an LM score, length).
   *
   * Scale shape: the cluster assignment is [[connectedComponents]]
   * (log-round star contraction); picking the winner is two exact
   * aggregations on the cluster key (best score, then min id among
   * the best-score members — Spark's max_by has no tie-break
   * contract) — fixed-width shuffle keys, map-side combined, no
   * window sort. Docs in no pair form singleton clusters and keep
   * themselves. A small graph resolves clusters AND winners on the
   * driver ([[PairGraph]]) under the same policy.
   *
   * NaN scores are normalized to NULL before ranking: Spark's max()
   * orders NaN ABOVE every number (the semanticDedup trap), so a
   * single degenerate 0/0 score in a cluster would otherwise beat
   * every clean member and invert the retention policy. NULL loses to
   * any real score; all-degenerate clusters keep their min id.
   */
  def dedupKeepBest(
      df: DataFrame,
      idCol: String,
      scoreCol: Column,
      pairs: DataFrame
  ): DataFrame = new PairGraph(pairs, SmallGraphEdges).keepBest(df, idCol, scoreCol)

  /** The distributed side of [[PairGraph.keepBest]]: (idCol, cluster_id,
    * keep_id, __score) from `scored` (idCol, __score) and `components`. */
  private def keepBestOf(scored: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val clustered = canonical(scored, idCol, components)
      .withColumnRenamed("canonical_id", "cluster_id")
      .join(scored, Seq(idCol))
    // Spark's max_by has no tie-break contract and a nondeterministic
    // pick would flap the gate, so the winner is fixed in two exact
    // aggregations: best score per cluster, then min id among the
    // best-score members (score equality is equality of identically
    // computed doubles — safe)
    val best = clustered.groupBy(col("cluster_id")).agg(max(col("__score")).as("__best_score"))
    val keep = clustered
      .join(best, Seq("cluster_id"))
      // null-safe: a cluster whose every score is NULL (max → NULL)
      // still keeps its min-id member instead of vanishing from the
      // output; NULL scores lose to any non-NULL score as usual
      .filter(col("__score") <=> col("__best_score"))
      .groupBy(col("cluster_id"))
      .agg(min(col(idCol)).as("keep_id"))
    clustered.join(keep, Seq("cluster_id"))
  }

  /**
   * Semantic dedup (SemDeDup-shaped): documents whose EMBEDDINGS are
   * near-identical collapse to one representative — paraphrases and
   * template rewrites that text-level dedup misses. Composition of two
   * verified pieces: exact-verified cosine pairs (hyperplane-LSH
   * candidates — never all-pairs; [[embeddingPairs]]) → connected
   * components in logarithmic rounds → canonical (min-id)
   * representative per cluster ([[dedupClusters]]). `keep` marks the
   * one row per cluster a training pipeline retains. Deterministic end
   * to end (hash-generated hyperplanes, min-id tie-break), so reruns
   * and engines agree.
   *
   * Scale shape: bit-identical vectors collapse to one representative
   * BEFORE the LSH stage — identical embeddings are cosine-1 pairs by
   * definition, and a replica-heavy corpus otherwise turns every LSH
   * bucket N-replicas deep (measured 417s → 8s at a 20× replica
   * stress). Collapsing is provably result-identical: replicas share
   * their representative's candidates and cosines, and the min-id
   * canonical of a cluster is the min over ALL members because each
   * group's representative already is its min id. Zero-norm or NaN
   * vectors stay uncollapsed (graft_cosine returns NULL for them, and
   * NULL ≥ t is never true, so they never pair; note Spark orders NaN
   * ABOVE every number, so emitting the IEEE 0/0 = NaN instead would
   * pair a degenerate vector with the entire corpus and collapse it —
   * and merging identical degenerate vectors would invent pairs).
   */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 0, // ≤0 = sized from the threshold (signBanding)
      bands: Int = 0,
      maxBucket: Option[Int] = None,
      bruteBound: Long = LowThresholdBruteBound // low-t dispatch, see embeddingPairs
  ): DataFrame = {
    val norm2 = F.dot(col(vecCol), col(vecCol))
    val collapsible = norm2 > lit(0.0) && !isnan(norm2)
    // collapse key: a 128-bit hash pair of the vector, NOT the raw
    // array — the window's shuffle/sort keys are then 16 bytes instead
    // of the multi-KB embedding (the [[exact]] content-hash discipline;
    // collision odds at 10^11 rows ~ 10^-17, the same birthday bound
    // the oracle-gated exact dedup already accepts). Degenerate vectors
    // keep rep_id = id, so hashing them is irrelevant.
    val withRep = df
      .select(col(idCol), col(vecCol))
      .withColumn(
        "rep_id",
        when(collapsible,
          min(col(idCol)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(xxhash64(col(vecCol)), xxhash64(lit("graft-seed-2"), col(vecCol)))))
          .otherwise(col(idCol)))
    val reps = withRep.filter(col(idCol) === col("rep_id")).select(col(idCol), col(vecCol))
    val pairs = embeddingPairs(reps, idCol, vecCol, planes, bands, threshold, maxBucket, bruteBound)
      .select(col("id_a"), col("id_b"))
    val comp = dedupClusters(reps, idCol, pairs)
      .select(col(idCol).as("rep_id"), col("canonical_id"))
    withRep
      .select(col(idCol), col("rep_id"))
      .join(comp, Seq("rep_id"))
      .select(col(idCol), col("canonical_id"))
      .withColumn("keep", col(idCol) === col("canonical_id"))
  }

  // ───────────────────────── cross-corpus dedup ─────────────────────────
  //
  // Dedup a NEW shard against an EXISTING reference corpus (the batch
  // counterpart of StreamingDedup's per-batch index probe): the routine
  // step of checking a fresh crawl against the training set already on
  // disk. Candidate generation is the same threshold-sized MinHash
  // banding as the self-dedup path, but A-vs-B — probe bands join
  // reference bands, so the work is |probe|-proportional, not
  // |reference|²: at 100 TB the reference side's signatures are computed
  // ONCE (buildTextIndex — the one full narrow scan over the corpus) and
  // every subsequent shard pays only its own signature pass plus a
  // band-key join against the persisted index (the shard's band rows
  // broadcast when it is bounded, so the index side never exchanges).

  /** A-vs-B band-collision candidates: (probe id, ref id), id-only.
    * Both sides' banded rows are individually bucket-capped — a
    * degenerate bucket is quadratic regardless of which side feeds it.
    * The shuffle_hash hint goes on the PROBE side: the hinted relation
    * is the hash BUILD side, and the probe is shard-sized by
    * construction while the reference is the corpus — building on the
    * reference would hold O(corpus × bands / partitions) rows per task
    * in memory. `hintProbe = false` when the reference side is ALREADY
    * bucketed on the band key (the bucketed index): any shuffle-hash
    * plan there would force the exchange the bucketing exists to
    * eliminate; the planner takes the bucket-fed sort-merge join. */
  private def crossCandidates(
      probeBanded: DataFrame, refBanded: DataFrame, maxBucket: Option[Int],
      hintProbe: Boolean = true, broadcastProbe: Boolean = false): DataFrame = {
    val probeSide = capBuckets(probeBanded, maxBucket).as("a")
    // broadcastProbe: the banded probe rows are id-only (id, band, bh —
    // no signature), so a bounded probe broadcasts in tens of MB and
    // the corpus-sized reference side streams through the hash join
    // with ZERO exchange and no sort — the StreamingDedup probe
    // discipline applied to the batch admission path. Caller guards
    // the bound; the shuffled-hash form remains the unbounded fallback.
    (if (broadcastProbe) broadcast(probeSide)
     else if (hintProbe) probeSide.hint("shuffle_hash")
     else probeSide)
      .join(capBuckets(refBanded, maxBucket).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact distinct-shingle Jaccard for A-vs-B candidates: each side's
    * shingles come from its own frame (ids may collide across corpora —
    * they are different namespaces).
    *
    * The REFERENCE side is semi-join-pruned to candidate ids BEFORE
    * shingling: the shingle pass (tokenize + distinct + array build)
    * over the full reference corpus would otherwise run per shard and
    * dominate every probe — with the prune, ref work at verify is
    * id-only traffic plus shingles for the candidate rows, so a
    * shard's verify scales with |shard| + |duplicates|, not |corpus|.
    * The candidate generator evaluates twice (semi-join build + final
    * join) — id-only band arithmetic, strictly cheaper than corpus
    * shingling. Measured at the 20× stress (100k-doc ref, 5k probe):
    * warm indexed probe 11.7s → 4.6s. The probe side stays unpruned —
    * it is shard-sized by construction. */
  private def crossExactVerify(
      cands0: DataFrame, probe: DataFrame, ref: DataFrame,
      idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    // the candidate frame is consumed TWICE (the ref semi-join build
    // below + the final join) and its lineage holds the corpus-index
    // scan — the single most expensive input of every cross path.
    // Materialize it once (executor-local blocks, candidate-scale:
    // bucket caps bound it), so an admission scans the index ONCE —
    // the second scan was ~13 s of a 37 s admission at the 2M-doc
    // measurement point.
    val cands = cands0.localCheckpoint(true)
    val refPruned = ref.join(
      cands.select(col("id_b").as("__cand_b")).distinct(),
      ref(idCol) === col("__cand_b"), "left_semi")
    val shA = probe.select(col(idCol).as("id_a"), shingles(col(textCol), shingleSize).as("sh_a"))
    val shB = refPruned.select(col(idCol).as("id_b"), shingles(col(textCol), shingleSize).as("sh_b"))
    cands
      .join(shA, "id_a")
      .join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jac"))
  }

  // the probe pipeline's stages, exposed so DedupSpec can pin the
  // candidate join's plan shapes — no behavior
  private[graft] def profileBanded(df: DataFrame, idCol: String, textCol: String,
      nh: Int, bands: Int, shingleSize: Int): DataFrame =
    bandedFromSigs(minhashSigs(df, idCol, textCol, nh, shingleSize), bands, nh / bands)
  private[graft] def profileCrossCandidates(pb: DataFrame, rb: DataFrame,
      hintProbe: Boolean, broadcastProbe: Boolean = false): DataFrame =
    crossCandidates(pb, rb, None, hintProbe, broadcastProbe)

  /** The LSH band-explode of (id, sig) rows: one (id, carry…, band, bh)
    * row per band. */
  private[graft] def bandedFromSigs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val kept = col("id") +: carry.map(col)
    sigs
      .select(kept :+ explode(F.lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"): _*)
      .select(kept ++ Seq(col("bk.band"), col("bk.bh")): _*)
  }

  /**
   * Cross-corpus near-duplicate pairs: every (probe doc, reference doc)
   * pair with exact distinct-shingle Jaccard ≥ `threshold`. Banding is
   * threshold-sized ([[minhashBanding]], at-threshold miss < `missTarget`
   * on any corpus), so the output matches a brute-force A×B scan — the
   * driver's oracle recomputes it quadratically.
   */
  def crossJaccardPairs(
      probe: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      missTarget: Double = 1e-6,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    val geom = TextIndexGeometry.forThreshold(threshold, shingleSize, missTarget)
    crossExactVerify(
      crossCandidates(geom.bandDocs(probe, idCol, textCol), geom.bandDocs(ref, idCol, textCol), maxBucket),
      probe, ref, idCol, textCol, shingleSize)
      .filter(col("jac") >= threshold)
  }

  // ───────────────────────── persisted text index ─────────────────────────
  //
  // One lifecycle. A FLAT index is shard dirs `<path>/sigs/shard=<name>`
  // of (id, sig) parquet, each with an optional band-key sidecar: the
  // build writes `__base`, each admission appends one dir, compaction
  // folds them back into `__base`. A BUCKETED index is a bucketed base
  // table of pre-banded (id, band, bh) rows plus a flat delta in exactly
  // that shard-dir layout; promotion folds the delta into the table.
  // Both share one geometry record, one probe ([[probeTextIndex]]) and
  // one admission ([[admitTextShard]]).

  /** A text index's banding geometry — the ONE meta row every layout
    * persists: `<path>/meta` parquet for a flat index or a delta,
    * `<table>_meta` for a bucketed base table, which alone carries
    * `num_buckets`. A probe banded differently than its index silently
    * finds nothing, so every probe, append and maintenance job takes
    * its hash family from here: the geometry is data, not convention. */
  private[graft] final case class TextIndexGeometry(
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      threshold: Double,
      missTarget: Double,
      numBuckets: Option[Int] = None) {
    def rowsPerBand: Int = numHashes / bands
    /** What a band key depends on: indexes whose band rows meet in one
      * candidate join must agree on it. */
    def banding: (Int, Int, Int) = (numHashes, bands, shingleSize)
    def sigs(df: DataFrame, idCol: String, textCol: String, spread: Boolean = true): DataFrame =
      minhashSigsKeep(df, idCol, textCol, numHashes, shingleSize, Nil, spread)
    def band(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame =
      bandedFromSigs(sigs, bands, rowsPerBand, carry)
    def bandDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
      band(sigs(df, idCol, textCol))

    /** The one meta writer: `<target>_meta` when `numBuckets` is set,
      * else `<target>/meta`. Seeds the reader's cache, so the admission
      * that follows a build pays no meta read-back job. */
    def write(spark: org.apache.spark.sql.SparkSession, target: String): Unit = {
      import spark.implicits._
      val row = Seq((numHashes, bands, shingleSize, threshold, missTarget))
        .toDF("num_hashes", "bands", "shingle_size", "threshold", "miss_target")
      val w = numBuckets.fold(row)(n => row.withColumn("num_buckets", lit(n)))
        .coalesce(1).write.mode("overwrite")
      numBuckets match {
        case None => w.parquet(s"$target/meta")
        case Some(_) => w.format("parquet").saveAsTable(s"${target}_meta")
      }
      graft.core.DirCache.put(spark, TextIndexGeometry.metaDir(spark, target, numBuckets.isDefined), this)
    }
  }

  private[graft] object TextIndexGeometry {
    /** Threshold-sized geometry ([[minhashBanding]]) for a new index. */
    def forThreshold(threshold: Double, shingleSize: Int, missTarget: Double): TextIndexGeometry = {
      val (nh, b) = minhashBanding(threshold, missTarget)
      TextIndexGeometry(nh, b, shingleSize, threshold, missTarget)
    }

    /** The meta row's storage dir, the [[graft.core.DirCache]] key (a
      * saveAsTable overwrite lands fresh part files there, so a rebuilt
      * table's meta misses like a rewritten parquet dir). */
    private def metaDir(
        spark: org.apache.spark.sql.SparkSession, target: String, table: Boolean): String =
      if (!table) s"$target/meta"
      else spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(s"${target}_meta"))
        .location.toString

    private def fromRow(r: org.apache.spark.sql.Row): TextIndexGeometry = TextIndexGeometry(
      r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"), r.getAs[Int]("shingle_size"),
      r.getAs[Double]("threshold"), r.getAs[Double]("miss_target"),
      if (r.schema.fieldNames.contains("num_buckets")) Some(r.getAs[Int]("num_buckets")) else None)

    /** A flat index's geometry, driver-cached by dir fingerprint: every
      * admission/probe/compaction re-reads this immutable row, and each
      * uncached read is a full Spark job for ~5 scalars. No meta (the
      * build writes it LAST) throws the parquet reader's own error. */
    def read(spark: org.apache.spark.sql.SparkSession, indexPath: String): TextIndexGeometry =
      graft.core.DirCache.cached(spark, s"$indexPath/meta") {
        fromRow(spark.read.parquet(s"$indexPath/meta").collect()(0))
      }

    /** [[read]], or None for a missing or crashed-mid-build index. */
    def find(spark: org.apache.spark.sql.SparkSession, indexPath: String): Option[TextIndexGeometry] = {
      val marker = new org.apache.hadoop.fs.Path(s"$indexPath/meta/_SUCCESS")
      if (marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker))
        Some(read(spark, indexPath))
      else None
    }

    /** A bucketed base table's geometry, cached like [[read]]. */
    def readTable(spark: org.apache.spark.sql.SparkSession, tableName: String): TextIndexGeometry =
      graft.core.DirCache.cached(spark, metaDir(spark, tableName, table = true)) {
        fromRow(spark.table(s"${tableName}_meta").collect()(0))
      }
  }

  /**
   * Build-once persisted MinHash signature index over a reference
   * corpus. Layout: `path/sigs` = (id, sig) parquet; `path/meta` = one
   * row pinning the banding geometry and shingle size, so every future
   * probe reads the SAME hash family it was built with (a probe banded
   * differently than its index silently finds nothing — the geometry is
   * data, not convention). The signature pass is the only full scan of
   * the reference text; at 100 TB it amortizes across every shard that
   * ever probes the index.
   */
  def buildTextIndex(
      ref: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      missTarget: Double = 1e-6
  ): Unit = {
    val geom = TextIndexGeometry.forThreshold(threshold, shingleSize, missTarget)
    val spark = ref.sparkSession
    // A REBUILD must wipe the whole sigs tree, not just __base: stale
    // admitted-shard dirs under a new geometry would be banded with the
    // new meta's layout (wrong band keys — silent candidate misses),
    // and even at unchanged geometry their docs are absent from the
    // caller's new ref frame. Delete meta FIRST so a crash inside the
    // wipe leaves a probe-refusing index, never a half-wiped readable one.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/sigs"), true)
    // shard=__base subdir: the initial corpus is just the first shard of
    // the parquet-append layout appendToTextIndex grows (partition
    // discovery exposes `shard`, so a probe can exclude its own shard's
    // rows on replay). meta is written LAST — its presence certifies a
    // complete build, so a crash between the two writes leaves a
    // probe-refusing index, not a silently geometry-less one.
    val baseRows = graft.core.Jobs.desc(spark, "textindex:build:sigs") {
      graft.core.Jobs.observedWrite(geom.sigs(ref, idCol, textCol)) {
        _.write.mode("overwrite").parquet(s"$path/sigs/shard=__base")
      }
    }
    graft.core.Jobs.desc(spark, "textindex:build:bloom") {
      writeBandsBloom(spark, s"$path/sigs/shard=__base", geom, baseRows)
    }
    graft.core.Jobs.desc(spark, "textindex:build:meta")(geom.write(spark, path))
  }

  /** Shard labels the index machinery owns: `__base` (the compacted
    * corpus), `__compacted`/`__prev_compacted` (compaction swap states —
    * see [[compactTextIndex]]). A user shard under one of these names
    * would collide with the swap protocol's recovery logic. */
  private val ReservedShards = Set("__base", "__compacted", "__prev_compacted")

  /**
   * Append one shard's signatures to an existing text index
   * ([[buildTextIndex]] layout). The banding geometry comes from the
   * index meta, so appended signatures are band-compatible with every
   * probe by construction. Each shard overwrites its OWN
   * `sigs/shard=<name>` subdir — re-running a failed or replayed shard
   * converges instead of duplicating index rows (duplicated signatures
   * would multiply every future shard's candidate pairs). The write is
   * one narrow signature pass over the shard; the base corpus is never
   * rewritten.
   */
  def appendToTextIndex(
      docs: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      shard: String
  ): Unit = {
    require(shard.nonEmpty && !ReservedShards.contains(shard),
      s"shard name must be a non-empty label other than the reserved ${ReservedShards.mkString("/")}, got '$shard'")
    val spark = docs.sparkSession
    val geom = TextIndexGeometry.read(spark, indexPath)
    val dir = s"$indexPath/sigs/${graft.core.ShardStore.dirName(shard)}"
    val shardRows = graft.core.Jobs.desc(spark, "textindex:append:sigs") {
      graft.core.Jobs.observedWrite(geom.sigs(docs, idCol, textCol)) {
        _.write.mode("overwrite").parquet(dir)
      }
    }
    // data first, sidecar second: a crash between the two leaves a
    // bloom-less (fully read, never skipped) shard
    graft.core.Jobs.desc(spark, "textindex:append:bloom") {
      writeBandsBloom(spark, dir, geom, shardRows)
    }
  }

  /**
   * BUCKETED text index — the high-throughput admission layout. The
   * parquet index ([[buildTextIndex]]) stores signatures, so every
   * probe explodes the WHOLE reference side into band rows and
   * shuffles them to meet the shard: per-probe data movement is
   * O(corpus × bands). This variant stores the index PRE-BANDED
   * (id, band, bh rows) in a table bucketed AND sorted on the band
   * key, so the candidate join reads index buckets in place — only
   * the shard's banded rows shuffle, and per-probe movement drops to
   * O(shard × bands). At a daily-shard cadence against a 100 TB
   * corpus that is the difference between re-shuffling the corpus
   * every day and a bucket-local merge join (bucketing needs the
   * table catalog — saveAsTable; geometry rides in `<table>_meta`).
   *
   * `numBuckets ≤ 0` (the default) sizes the bucket count from the
   * corpus ([[textIndexBuckets]]) the same way the IVF index sizes
   * cells from vector count: per-bucket row volume and probe-join
   * parallelism are corpus-derived, not frozen at an sf-tuned
   * constant. The chosen count lands in `<table>_meta.num_buckets`.
   * Bucket count is fixed at build time by the table layout, so when
   * the corpus outgrows it (per-bucket rows past ~10× the target,
   * visible by comparing the table's row count to
   * `num_buckets × rows-per-bucket target`), REBUILD: rerun this
   * method — it drops and recreates the table and meta atomically
   * enough for a maintenance window (the parquet index
   * [[buildTextIndex]] stays probe-able throughout if both are kept).
   */
  def buildTextIndexBucketed(
      ref: DataFrame,
      idCol: String,
      textCol: String,
      tableName: String,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      missTarget: Double = 1e-6,
      numBuckets: Int = 0
  ): Unit = {
    val geom = TextIndexGeometry.forThreshold(threshold, shingleSize, missTarget)
    val spark = ref.sparkSession
    // corpus-derived bucket count: one column-pruned count() of the ref
    // — negligible next to the signature pass the build runs anyway
    val buckets = if (numBuckets > 0) numBuckets else textIndexBuckets(ref.count() * geom.bands)
    // Self-heal the cross-JVM half-state: an in-memory catalog dies
    // with its JVM but the managed-table LOCATION persists, and
    // saveAsTable then fails LOCATION_ALREADY_EXISTS on a table the
    // new catalog has never heard of. Drop any registered table first,
    // then clear the orphaned location.
    Seq(tableName, s"${tableName}_meta").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
      val loc = new org.apache.hadoop.fs.Path(wh, t.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    writeBucketedBanded(geom.bandDocs(ref, idCol, textCol), tableName, buckets)
    geom.copy(numBuckets = Some(buckets)).write(spark, tableName)
  }

  /** The one bucketed-banded-rows writer both the build and the
    * promotion use. ONE FILE PER BUCKET is load-bearing, not tidiness:
    * Spark honors a bucketed scan's sortBy metadata only when every
    * bucket holds a single file — with the default
    * write-tasks × buckets file fan-out, every probe join RE-SORTS the
    * corpus-sized index side per task (measured 12.9 s of a 37 s
    * admission at the 2M-doc point, and a per-task spill risk at
    * 100×). `repartition(buckets, band, bh)` uses the same Murmur3
    * hash as the bucketing, so each write task holds exactly its
    * bucket's rows; sortWithinPartitions writes them merge-ready. */
  private def writeBucketedBanded(banded: DataFrame, tableName: String, buckets: Int): Unit =
    banded
      .repartition(buckets, col("band"), col("bh"))
      .sortWithinPartitions("band", "bh")
      .write.mode("overwrite")
      .bucketBy(buckets, "band", "bh")
      .sortBy("band", "bh")
      .format("parquet")
      .saveAsTable(tableName)

  /** Banded rows one bucket of a bucketed text index should hold —
    * ~4M (id, band, bh) rows ≈ 80 MB in flight, comfortably inside an
    * executor task's working set while keeping file counts sane. */
  private val BandedRowsPerBucket = 4L * 1000 * 1000

  /** Bucket count for a bucketed text index holding `bandedRows`
    * (= corpus docs × bands) rows: corpus-proportional like the IVF
    * cell sizing (~n/2048 vectors per cell), floored at 8 so a small
    * corpus still gets enough buckets for probe-join parallelism. */
  private[graft] def textIndexBuckets(bandedRows: Long): Int =
    math.max(8L, (bandedRows + BandedRowsPerBucket - 1) / BandedRowsPerBucket).toInt

  /** Runs `f` with bucketed-scan output ORDERING enabled: Spark gates
    * it behind `spark.sql.legacy.bucketedTableScan.outputOrdering`
    * (ordering is only ever CLAIMED when a bucket holds exactly one
    * file — which [[writeBucketedBanded]] guarantees — so enabling it
    * is safe; without it every probe's merge join re-buffers and
    * re-sorts the corpus-sized index side per task, a spill risk at
    * scale). Conf set/restored around the candidate materialization —
    * the only part of the probe that plans over the bucketed scan. */
  private def withBucketScanOrdering[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Probe a bucketed text index ([[buildTextIndexBucketed]]): the
    * shard's banded rows shuffle into the index's bucketing; the index
    * side joins WITHOUT an exchange and WITHOUT a re-sort (both
    * asserted in DedupSpec). Verify semantics identical to
    * [[crossJaccardPairsIndexed]]. */
  def crossJaccardPairsBucketedIndexed(
      probe: DataFrame,
      tableName: String,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      maxBucket: Option[Int] = None
  ): DataFrame =
    probeTextIndex(probe, ref, idCol, textCol,
      TextIndexGeometry.readTable(probe.sparkSession, tableName),
      Some(tableName), None, maxBucket, None)

  /**
   * Merge a text index's accumulated shard subdirs into the single
   * `shard=__base` partition. Daily admissions each leave a small
   * `sigs/shard=<name>` dir; after thousands of shards the probe's
   * scan cost turns file-listing-bound (the classic small-file
   * problem) — compaction restores one well-sized partition, exactly
   * the log+compact cycle the upsert store runs.
   *
   * Crash-safe without a transaction log, and RESTARTABLE at any point
   * — the merged signatures are written OUTSIDE the readable index
   * (`<path>/sigs_compacting`, a sibling of `sigs/`, invisible to
   * partition discovery), then swapped in with filesystem renames:
   *
   *  1. write merged+deduplicated sigs → `sigs_compacting/` (overwrite
   *     mode: a re-run after a crash here just rewrites it; probes keep
   *     reading the untouched shard dirs);
   *  2. rename `sigs_compacting` → `sigs/shard=__compacted` (atomic on
   *     HDFS/POSIX; a crash after it leaves every signature duplicated
   *     between `__compacted` and its old shard dir — duplicates only
   *     duplicate band-join candidates, and candidates pass through
   *     `distinct()` before the verify, so probe RESULTS are identical);
   *  3. delete every other `shard=` dir (each delete only removes rows
   *     that already live in `__compacted`);
   *  4. rename `shard=__compacted` → `shard=__base`.
   *
   * Unlike the staged [[graft.core.ShardStore.fold]] the other indexes
   * run, the merged base enters the serve tree by one rename, so a
   * concurrent probe never reads a partially rewritten base; the
   * snapshot is the same committed-shard listing.
   *
   * A crash in any window leaves a complete, correct index, and
   * re-running `compactTextIndex` converges (step 1 rereads whatever
   * shard dirs remain, `dropDuplicates` collapses crash duplicates).
   * Unlike a `localCheckpoint` barrier, nothing corpus-sized is ever
   * pinned in executor block-manager storage, and an executor loss
   * mid-job is just a task retry — the maintenance job survives exactly
   * when the cluster is busiest. Only compact shards whose pipeline
   * runs are finalized: a shard merged into base can no longer be
   * excluded by an [[admitShard]] replay, which would then self-match.
   *
   * Safe under CONCURRENT admission: the merge reads, and the cleanup
   * deletes, only the shard dirs present when the merge began (one
   * snapshot listing) — a shard admitted while the compaction runs is
   * neither folded nor deleted, and survives beside the new `__base`
   * for the next cycle. (A delete-everything cleanup would silently
   * drop an admission that landed between the merge read and the
   * cleanup — with daily admissions and background compaction at
   * corpus scale, that window is routinely occupied.) A concurrent
   * PROBE may still transiently see `__compacted` beside the stale
   * shard dirs (harmless duplicate candidates, collapsed by
   * `distinct()`) or hit a deleted file mid-scan during the cleanup
   * window and need the standard task retry.
   */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    compactTextIndexImpl(spark, path, () => ())

  /** [[compactTextIndex]] with a test seam: `afterMerge` runs between
    * the merge swap (step 2) and the snapshot cleanup (step 3) — the
    * window a concurrent admission must survive. Returns the number of
    * shard dirs folded (0 when there was nothing to fold). */
  private[graft] def compactTextIndexImpl(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      afterMerge: () => Unit
  ): Int = {
    val sigsPath = s"$path/sigs"
    val fs = new org.apache.hadoop.fs.Path(sigsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compacting = new org.apache.hadoop.fs.Path(s"$path/sigs_compacting")
    val compacted = new org.apache.hadoop.fs.Path(s"$sigsPath/shard=__compacted")
    val prev = new org.apache.hadoop.fs.Path(s"$sigsPath/shard=__prev_compacted")
    // Crash-recovery preamble. A leftover `shard=__compacted` may be the
    // SOLE copy of already-deleted shards' rows (crash mid-step-3), so it
    // is never deleted — it is renamed into the merge set as an ordinary
    // shard and re-read. Invariant making the inner delete safe: any
    // `__compacted` dir was merged from a read of everything then under
    // `sigs/` — including any `__prev_compacted` — so when both exist,
    // `__compacted` supersedes `__prev_compacted`.
    if (fs.exists(compacted)) {
      fs.delete(prev, true)
      if (!fs.rename(compacted, prev))
        throw new java.io.IOException(s"compaction recovery failed: rename $compacted -> $prev")
    }
    // ONE snapshot listing drives both the merge read and the cleanup:
    // only dirs in the snapshot are folded into __compacted, so only
    // dirs in the snapshot may be deleted (each delete removes rows
    // that provably live in __compacted). Shards admitted after this
    // line are untouched, as are uncommitted dirs (a concurrent
    // admission's write still in flight — see [[graft.core.ShardStore]]).
    val snapshot = readableShardDirs(spark, path)
    if (snapshot.isEmpty) return 0 // nothing to fold
    val mergedRows = graft.core.Jobs.desc(spark, "textindex:compact:merge") {
      graft.core.Jobs.observedWrite(
        graft.core.DirCache.reader(spark, sigsPath).parquet(snapshot.map(_.toString).toIndexedSeq: _*)
          .select(col("id"), col("sig"))
          // collapse exact-duplicate rows: a crash in a previous run's
          // step-2..3 window leaves migrated signatures twice (__compacted +
          // stale shard dir); the re-run merges them back to one row
          .dropDuplicates(Seq("id", "sig"))) {
        _.write.mode("overwrite").parquet(compacting.toString)
      }
    }
    if (!fs.rename(compacting, compacted))
      throw new java.io.IOException(s"compaction swap failed: rename $compacting -> $compacted")
    afterMerge()
    snapshot.foreach(p => fs.delete(p, true))
    if (!fs.rename(compacted, new org.apache.hadoop.fs.Path(s"$sigsPath/shard=__base")))
      throw new java.io.IOException(s"compaction swap failed: rename $compacted -> shard=__base")
    // re-bloom the merged base (no-op above the key cap); the merged
    // rows rode through sigs_compacting, which carries no sidecar, so
    // until this line the new base is bloom-less — read fully, never
    // wrongly skipped
    graft.core.Jobs.desc(spark, "textindex:compact:bloom") {
      writeBandsBloom(spark, s"$sigsPath/shard=__base", TextIndexGeometry.read(spark, path), mergedRows)
    }
    snapshot.length
  }

  /**
   * The incremental admission cycle a curation pipeline runs per shard:
   * probe the index for cross-corpus duplicates, keep only NOVEL
   * documents, and append the survivors' signatures under this shard's
   * name — so the next shard dedups against corpus + this shard's
   * admitted docs. Returns the surviving rows of `probe` (all columns).
   *
   * Replay-safe: the probe EXCLUDES the shard's own index rows, so
   * re-running a shard (retry after a mid-append crash, a replayed
   * pipeline) computes the same survivor set from the same evidence and
   * overwrites `sigs/shard=<name>` with identical content, converging
   * instead of self-matching every document into rejection (which would
   * also empty the shard's index entry — data loss on retry).
   *
   * `ref` supplies text for the exact verify and must cover the corpus
   * the index indexes (base + previously admitted shards) — the index
   * itself is text-free.
   *
   * Cross-corpus only by design: duplicates WITHIN the shard are not
   * checked (two novel near-identical docs in one shard are both
   * admitted). Self-dedup the shard first — e.g.
   * [[minhashJaccardPairs]] + [[dedupClusters]], or [[exact]] — the
   * same composition [[graft.operators.Curation]] runs; keeping the
   * two concerns separate lets the intra-shard pass pick its own
   * threshold and keep-policy (keep-best vs min-id).
   */
  def admitShard(
      probe: DataFrame,
      indexPath: String,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      shard: String,
      maxBucket: Option[Int] = None
  ): DataFrame =
    admitTextShard(probe, ref, idCol, textCol, shard, maxBucket,
      TextIndexGeometry.read(probe.sparkSession, indexPath), None, indexPath)

  /**
   * Probe a persisted text index ([[buildTextIndex]]): signatures for
   * the probe shard only (narrow map over the NEW data), band join
   * against the stored reference signatures, then exact shingle-Jaccard
   * verify. `ref` supplies reference TEXT for the verify step — a
   * streamed narrow shingle pass (rows shingle, hit the candidate join,
   * and die; nothing corpus-sized materializes) that only candidate
   * rows survive. The index itself stays text-free, so its size is
   * O(corpus × numHashes), not O(text). Threshold and banding geometry
   * come from the index meta — a probe banded differently than its
   * index would silently find nothing, so the geometry travels with
   * the data, not the code.
   */
  def crossJaccardPairsIndexed(
      probe: DataFrame,
      indexPath: String,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      maxBucket: Option[Int] = None,
      excludeShard: Option[String] = None
  ): DataFrame =
    probeTextIndex(probe, ref, idCol, textCol,
      TextIndexGeometry.read(probe.sparkSession, indexPath),
      None, Some(indexPath), maxBucket, excludeShard)

  /**
   * The one text-index probe every layout runs: band the probe once,
   * join it against an optional bucketed base table (`baseTable`,
   * bucket-fed merge join — no exchange and no re-sort on the index
   * side) and an optional shard-dir tree (`shardsPath`: a flat index,
   * or a bucketed index's delta), then one exact verify against `ref`
   * and one threshold filter. The split layout thereby returns exactly
   * what a monolithic index over the same rows would.
   *
   * Shard dirs pass two file-level filters before any is opened:
   * `excludeShard` drops the named shard's own dir (admission replay —
   * a shard must never self-match), and the band-key sidecar test
   * ([[pruneShardDirs]]) skips a dir whose bloom rejects every probe
   * key — it contributes no candidates. A delta is the many-small-
   * shards regime the sidecars exist for.
   */
  private def probeTextIndex(
      probe: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      geom: TextIndexGeometry,
      baseTable: Option[String],
      shardsPath: Option[String],
      maxBucket: Option[Int],
      excludeShard: Option[String]
  ): DataFrame = {
    val spark = probe.sparkSession
    val dirs = shardsPath.fold(Array.empty[org.apache.hadoop.fs.Path])(readableShardDirs(spark, _))
      .filterNot(d => excludeShard.exists(sh => d.getName == graft.core.ShardStore.dirName(sh)))
    // pruning (and the probe-key collect + extra probe materialization
    // that feed it) pays only where a sidecar exists to consult. Build
    // and compaction give `__base` a sidecar under BandsBloomKeyCap, so
    // a freshly compacted index under the cap still pays the pass; only
    // over-cap or pre-sidecar layouts skip it
    val willPrune = anySidecar(spark, dirs)
    // materialized only when the banded probe has several consumers
    // (base join, shard join, driver key collect) — one probe
    // signature pass; single-consumer probes stay lazy
    val pb0 = geom.bandDocs(probe, idCol, textCol)
    val pb = if (willPrune || (baseTable.isDefined && dirs.nonEmpty)) pb0.localCheckpoint(true) else pb0
    val readDirs = if (willPrune) pruneShardDirs(spark, dirs, probeBandKeys(pb))._1 else dirs
    // bounded-probe broadcast: a bounded probe's banded rows broadcast,
    // so the corpus-sized shard side streams through the candidate join
    // with ZERO exchange — the per-probe cost that otherwise grows with
    // the corpus (guide §2.4/§3.1; the StreamingDedup per-trigger
    // discipline applied here). One scan-only count of the probe, taken
    // only when shard dirs will be read, stops at bound + 1: past the
    // bound the decision is the same at any size, so an oversized probe
    // never pays a full count and falls back to the shuffled-hash join.
    val bcast = readDirs.nonEmpty && {
      val bound = indexProbeBroadcastDocs(geom.bands)
      graft.core.Jobs.desc(spark, "textindex:probe-count") {
        probe.limit(bound.toInt + 1).count()
      } <= bound
    }
    val baseCands = baseTable.map(t =>
      crossCandidates(pb, spark.table(t), maxBucket, hintProbe = false))
    val shardCands =
      if (readDirs.isEmpty) None
      else Some(crossCandidates(pb,
        geom.band(spark.read.option("basePath", s"${shardsPath.get}/sigs")
          .parquet(readDirs.map(_.toString).toIndexedSeq: _*)
          .select(col("id"), col("sig"))),
        maxBucket, hintProbe = !bcast, broadcastProbe = bcast))
    // no readable dir and no base (every dir pruned, or an empty
    // index): an optimizer-emptied frame, so nothing is read
    val cands = (baseCands ++ shardCands).reduceOption(_.unionByName(_).distinct())
      .getOrElse(pb.select(col("id").as("id_a"), lit(null).cast(ref.schema(idCol).dataType).as("id_b"))
        .limit(0))
    def verify = crossExactVerify(cands, probe, ref, idCol, textCol, geom.shingleSize)
    (if (baseTable.isDefined) withBucketScanOrdering(spark)(verify) else verify)
      .filter(col("jac") >= geom.threshold)
  }

  /** The one admission every layout runs: [[probeTextIndex]] excluding
    * the shard's own dir, the rejected ids checkpointed, survivors
    * anti-joined out of `probe` and appended to the shard-dir tree at
    * `shardsPath` under `shard`. Returns the survivors. */
  private def admitTextShard(
      probe: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      shard: String,
      maxBucket: Option[Int],
      geom: TextIndexGeometry,
      baseTable: Option[String],
      shardsPath: String
  ): DataFrame = {
    // materialized: the rejected-id set (≤ |shard| ids) feeds BOTH the
    // anti-join below and — through the survivors' lineage — the
    // append's signature pass; unmaterialized, the whole probe+verify
    // pipeline re-runs per consumer
    val dupIds = graft.core.Jobs.desc(probe.sparkSession, "textindex:admit:probe") {
      probeTextIndex(probe, ref, idCol, textCol, geom, baseTable, Some(shardsPath),
        maxBucket, Some(shard))
        .select(col("id_a").as("__dup_id")).distinct()
        .localCheckpoint(true)
    }
    val survivors = probe.join(
      dupIds.hint("shuffle_hash"), col(idCol) === col("__dup_id"), "left_anti")
    appendToTextIndex(survivors, shardsPath, idCol, textCol, shard)
    survivors
  }

  // ─────────────── band-key Bloom sidecars (shard-dir pruning) ───────────────
  //
  // The vector index's `_ids_bloom` discipline applied to BAND KEYS: each
  // shard dir under `sigs/` carries a Bloom of its rows' xxhash64(band, bh)
  // values, and a probe reads only dirs whose bloom might contain one of
  // the probe's own band keys — file-level pruning for the many-small-
  // shards regime (a delta tree of daily admissions, an uncompacted index),
  // where a shard's duplicates concentrate in a few source dirs.
  //
  // Deliberately NOT a corpus-level bloom over `__base`: an any-hit test
  // with k probe keys fires only when ALL k miss, P ≈ (1-fpp)^k — a 5k-doc
  // daily shard probes ~250k keys, so a usefully-skipping corpus bloom
  // needs fpp ≪ 1/k ≈ 4e-6 ≈ 30 bits per banded row, a sidecar that grows
  // linearly with the corpus at ~2 orders less than the index itself and
  // STILL only fires on fully-novel shards. The corpus-side scan cost is
  // instead held down structurally: one sorted file per bucket (no
  // per-probe re-sort, constant rows per task at any corpus size) and a
  // single index scan per admission (materialized candidates). Dirs above
  // [[BandsBloomKeyCap]] keys therefore get no sidecar and are always read.
  //
  // Maintenance is exact by construction: the sidecar is written AFTER its
  // dir's data (a crash between the two leaves a bloom-less dir — read
  // fully, never skipped), parquet overwrite wipes dir + sidecar together,
  // and compaction re-blooms the merged base if it fits the cap.

  private[graft] val BandsBloomFile = "_bands_bloom"
  // dir-pruning any-hit tests want ~no false hits across a shard-sized
  // probe's ~10^5-10^6 keys: fpp 1e-6 ≈ 29 bits/key ≈ 0.9 MB per 250k-key
  // daily shard
  private val BandsBloomFpp = 1e-6
  /** Dirs with more banded keys than this get no sidecar: the unclamped
    * bloom holds 1e-6 at ~29 bits/key, so it would pass ~29 MB, and its
    * any-hit test fires ~never at that key count. */
  private[graft] val BandsBloomKeyCap = 8L * 1000 * 1000
  /** Probes with more distinct band keys than this skip the driver-side
    * pruning pass entirely (cap bounds the collect at ~32 MB). */
  private[graft] val ProbeKeyCollectCap = 4 * 1000 * 1000

  private def bandKeyCol: org.apache.spark.sql.Column = xxhash64(col("band"), col("bh"))

  /** Write `dir`'s band-key sidecar from its just-written signature rows
    * (read back — shard-scale), using the index geometry. No-op above the
    * key cap (any stale sidecar cannot exist: overwrite wiped the dir). */
  private def writeBandsBloom(
      spark: org.apache.spark.sql.SparkSession, dir: String, geom: TextIndexGeometry,
      sigRows: Long): Unit = {
    // cap check: every caller just WROTE the dir and passes the count
    // its write observed (rides the write job — zero extra cost). Each
    // signature row yields exactly `bands` band keys, so an over-cap
    // dir is detected without the banding pass it would skip anyway (a
    // corpus-sized base otherwise paid ~20 s just to learn it gets no
    // sidecar).
    val n = sigRows * geom.bands
    if (n == 0L || n > BandsBloomKeyCap) return
    val keys = geom.band(graft.core.DirCache.reader(spark, dir).parquet(dir).select(col("id"), col("sig")))
      .select(bandKeyCol.as("k"))
    graft.core.BloomSidecar.write(spark, dir, BandsBloomFile,
      graft.core.BloomSidecar.build(keys, n, BandsBloomFpp))
  }

  /** The probe's distinct band keys, driver-collected — or None when the
    * probe exceeds the collect cap (pruning skipped, everything read). */
  private def probeBandKeys(pb: DataFrame): Option[Array[Long]] = {
    val keys = pb.select(bandKeyCol.as("k")).distinct()
      .limit(ProbeKeyCollectCap + 1).collect().map(_.getLong(0))
    if (keys.length > ProbeKeyCollectCap) None else Some(keys)
  }

  /** Driver work ceiling for the pruning pass (keys × dirs bloom
    * checks, ~50-100 ns each, parallel over dirs): past it, pruning is
    * skipped and everything is read — the pass must never cost more
    * than the reads it saves. An all-novel probe is the worst case
    * (no early exit anywhere). */
  private val PruneWorkCap = 512L * 1000 * 1000

  /** Split `dirs` into (must-read, skipped): a dir is skipped only when
    * it HAS a sidecar and every probe key misses it — a missing/corrupt
    * sidecar or an over-cap probe reads the dir (never wrong, only
    * slower). Bloom false positives only ever ADD a dir. The per-dir
    * any-hit tests run in parallel on the driver (bounded by
    * [[PruneWorkCap]] total checks). */
  private[graft] def pruneShardDirs(
      spark: org.apache.spark.sql.SparkSession,
      dirs: Array[org.apache.hadoop.fs.Path],
      keys: Option[Array[Long]]
  ): (Array[org.apache.hadoop.fs.Path], Array[org.apache.hadoop.fs.Path]) = keys match {
    case None => (dirs, Array.empty)
    case Some(ks) if ks.length.toLong * dirs.length > PruneWorkCap => (dirs, Array.empty)
    case Some(ks) =>
      val mustRead = new Array[Boolean](dirs.length)
      java.util.stream.IntStream.range(0, dirs.length).parallel().forEach { i =>
        mustRead(i) = graft.core.BloomSidecar.read(spark, dirs(i).toString, BandsBloomFile) match {
          case None => true // no sidecar: must read
          case Some(bf) => ks.exists(bf.mightContainLong)
        }
      }
      val read = dirs.indices.filter(mustRead).map(dirs).toArray
      val skip = dirs.indices.filterNot(mustRead).map(dirs).toArray
      (read, skip)
  }

  /** Cheap presence test: does ANY of `dirs` carry a band-key sidecar?
    * When none does (dirs over [[BandsBloomKeyCap]] keys, or pre-sidecar
    * layouts), callers skip the probe-key collect and its probe
    * materialization entirely — the pruning pass must never cost more
    * than it can possibly save.
    * Stats run in parallel on the driver; an unreadable dir counts as
    * sidecar-less (it will simply be read). */
  private[graft] def anySidecar(
      spark: org.apache.spark.sql.SparkSession,
      dirs: Array[org.apache.hadoop.fs.Path]): Boolean = {
    if (dirs.isEmpty) return false
    val conf = spark.sparkContext.hadoopConfiguration
    val hit = new Array[Boolean](dirs.length)
    java.util.stream.IntStream.range(0, dirs.length).parallel().forEach { i =>
      val p = new org.apache.hadoop.fs.Path(dirs(i), BandsBloomFile)
      hit(i) = try p.getFileSystem(conf).exists(p)
      catch { case _: java.io.IOException => false }
    }
    hit.exists(identity)
  }

  /** The committed shard dirs under a parquet text index's `sigs/`
    * (see [[graft.core.ShardStore]]): probes and maintenance read, and
    * maintenance deletes, only these. */
  private[graft] def readableShardDirs(
      spark: org.apache.spark.sql.SparkSession, indexPath: String
  ): Array[org.apache.hadoop.fs.Path] =
    graft.core.ShardStore.committed(spark, s"$indexPath/sigs")

  /** Check a delta side-index's geometry against its base table's: a
    * delta banded differently than its base would make base and delta
    * candidates incomparable and every future promotion silently wrong
    * (the geometry-is-data rule both index forms already follow). A
    * missing delta meta is created from the base's geometry when
    * `create` (admission); a pure probe never creates it. */
  private def checkDeltaGeometry(
      spark: org.apache.spark.sql.SparkSession,
      deltaPath: String,
      base: TextIndexGeometry,
      create: Boolean
  ): Unit = TextIndexGeometry.find(spark, deltaPath) match {
    case Some(delta) =>
      require(delta.banding == base.banding,
        s"delta index at $deltaPath has a different banding geometry than its base table")
    case None => if (create) base.copy(numBuckets = None).write(spark, deltaPath)
  }

  /**
   * Base+delta admission against the BUCKETED index — the serving shape
   * a daily pipeline runs at 100 TB. The bucketed table carries the
   * large, periodically rebuilt base (zero-exchange candidate join);
   * shards admitted BETWEEN rebuilds land in a small parquet side-index
   * (`deltaPath`, the [[buildTextIndex]] layout, created on first use
   * with the table's geometry) that every probe also checks. Without
   * the delta, a shard admitted Monday is invisible to Tuesday's probe
   * until the next full table rebuild, and cross-shard duplicates slip
   * into the corpus unchecked. Candidates = bucketed base join ∪ delta
   * band join (the delta side is days-sized, so its exchange is
   * shard-scale, not corpus-scale); one shared exact verify; novel
   * survivors append to the delta under `shard`. Replay-safe like
   * [[admitShard]]: the delta probe excludes its own shard's rows.
   * When the delta has grown enough, [[promoteTextIndexDelta]] folds
   * it into the table from signatures alone and resets it.
   */
  def admitShardBucketed(
      probe: DataFrame,
      tableName: String,
      deltaPath: String,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      shard: String,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    val spark = probe.sparkSession
    val geom = TextIndexGeometry.readTable(spark, tableName)
    checkDeltaGeometry(spark, deltaPath, geom, create = true)
    admitTextShard(probe, ref, idCol, textCol, shard, maxBucket, geom, Some(tableName), deltaPath)
  }

  /**
   * The base+delta PROBE on its own (the read half of
   * [[admitShardBucketed]], also the gated q_dedup_cross_delta path):
   * candidates from the zero-exchange bucketed base table ∪ the parquet
   * delta side-index's band join, one shared exact verify — the split
   * serving layout must return exactly what a monolithic index over
   * base+delta would (the driver gate proves it against the same
   * brute-force A×B oracle as the flat index probe). A missing or
   * empty delta degrades to the pure bucketed probe; a delta whose
   * meta disagrees with the table's geometry is refused.
   */
  def crossJaccardPairsBucketedDelta(
      probe: DataFrame,
      tableName: String,
      deltaPath: String,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      maxBucket: Option[Int] = None,
      excludeShard: Option[String] = None
  ): DataFrame = {
    val spark = probe.sparkSession
    val geom = TextIndexGeometry.readTable(spark, tableName)
    checkDeltaGeometry(spark, deltaPath, geom, create = false)
    probeTextIndex(probe, ref, idCol, textCol, geom, Some(tableName), Some(deltaPath),
      maxBucket, excludeShard)
  }

  /**
   * Fold the delta side-index into the bucketed base table WITHOUT
   * re-shingling any text — promotion is a signature-only maintenance
   * job. The table's rows are ALREADY banded (id, band, bh); the delta
   * signatures band the same way, the union deduplicates, and the
   * merged rows re-bucket at a freshly corpus-derived bucket count
   * (the resize path when the corpus outgrows its buckets — the new
   * count lands in `<table>_meta.num_buckets`). Never a corpus text
   * scan: at 100 TB the cost is one shuffle of 20-byte banded rows.
   *
   * Restartable and safe under concurrent admission: it runs the
   * [[graft.core.ShardStore.fold]] protocol with home `deltaPath` and
   * tree `<deltaPath>/sigs` — a shard admitted mid-promotion survives
   * for the next cycle. Duplicated rows inside the fold's window only
   * duplicate band-join candidates, which the probe's `distinct()`
   * collapses.
   */
  def promoteTextIndexDelta(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      deltaPath: String
  ): Unit = promoteTextIndexDeltaImpl(spark, tableName, deltaPath, () => ())

  /** [[promoteTextIndexDelta]] with a test seam: `afterStage` runs
    * between the staged-merge write and the table rebuild + snapshot
    * cleanup — the window a concurrent admission must survive. Returns
    * the number of shards folded. */
  private[graft] def promoteTextIndexDeltaImpl(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      deltaPath: String,
      afterStage: () => Unit
  ): Int = {
    val geom = TextIndexGeometry.readTable(spark, tableName)
    graft.core.ShardStore.fold(spark, deltaPath, Seq(s"$deltaPath/sigs"), afterStage) { (stage, snap) =>
      val deltaBanded = geom.band(
        spark.read.parquet(snap.map(_.toString).toIndexedSeq: _*).select(col("id"), col("sig")))
      spark.table(tableName).unionByName(deltaBanded)
        // a replayed-but-unpromoted shard can carry rows a previous
        // crash-window already merged; identical banded rows collapse
        .dropDuplicates(Seq("id", "band", "bh"))
        .write.mode("overwrite").parquet(stage)
    } { stage =>
      // bucket sizing from the staging dir's parquet footers (driver-side
      // row counts — the dir was just written): one fewer corpus-read job
      val buckets = textIndexBuckets(graft.core.DirCache.parquetRowCount(spark, stage))
      writeBucketedBanded(spark.read.parquet(stage), tableName, buckets)
      geom.copy(numBuckets = Some(buckets)).write(spark, tableName)
    }
  }
}
