package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for large-scale text corpora.
 *
 * All operators are pure DataFrame pipelines: tokenisation is a generate
 * (explode) over a single scan, candidate generation is an equi-join keyed on
 * tokens/bands/buckets (shuffle-partitioned by key, AQE-skew-eligible), and
 * verification is a grouped aggregation — no driver-side loops, no UDFs, so
 * the whole pipeline stays in whole-stage codegen and scales horizontally.
 */
object Dedup {

  /** Exact dedup by content hash: one row per distinct text with the kept
    * (minimum) id and the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Normalised word-token array (with duplicates): lowercase, split on
    * non-alphanumerics — the per-document starting point of every signature
    * pipeline. Staying in array form keeps derivations per-row (no explode
    * shuffle) until a join genuinely needs row-per-token shape. */
  private[graft] def tokArray(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /**
   * Ensure at least `defaultParallelism` partitions before an expensive
   * per-row derivation: a small input (one parquet split) would otherwise
   * run the whole tokenise/hash map in a single task. Shuffles only the raw
   * rows, and only when the scan is narrower than the cluster — at real
   * scale input splits abound and this is a no-op.
   */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // partition count from the physical plan — `df.rdd` would force a full
    // RDD conversion (deserialisation boundary) per call (r3 ADVICE)
    val current = df.queryExecution.executedPlan.outputPartitioning.numPartitions
    if (current < target) df.repartition(target) else df
  }

  /**
   * (id, arr) per doc: the distinct token (k=1) or k-shingle array. Docs
   * shorter than k tokens have no k-shingle (dropped). Within-doc dedup is
   * per-row (array_distinct — codegen'd, no global distinct shuffle).
   *
   * The token array is bound as a real column BEFORE the shingle transform:
   * a lambda body re-evaluates captured *expressions* per element, so
   * inlining the regex split into `slice(ts, …)` would re-tokenise the
   * document once per shingle (measured 11 s vs 0.5 s on the gate corpus);
   * an attribute reference is a row-slot read.
   */
  private[graft] def docSets(df0: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val df = widen(df0)
    if (k <= 1)
      // no size guard here: a filter on `arr` would be alias-substituted and
      // pushed to the scan, re-running the derivation per row (see
      // explodeArr); empty docs simply produce no exploded rows
      df.select(col(idCol).as("id"), array_distinct(tokArray(col(textCol))).as("arr"))
    else
      // the too-short guard lives INSIDE the projection (when → null), not
      // in a where: a filter on ts would be alias-substituted below the
      // projection, tokenising every row twice. null arr rows fall out at
      // explode_outer's null-filter.
      df.select(col(idCol).as("id"), tokArray(col(textCol)).as("ts"))
        .select(col("id"),
          when(size(col("ts")) >= k,
            array_distinct(transform(sequence(lit(0), size(col("ts")) - k),
              i => concat_ws(" ", slice(col("ts"), i + 1, lit(k)))))).as("arr"))
  }

  /** Normalised word tokens: lowercase, split on non-alphanumerics. */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokArray(col(textCol))).as("tok"))

  /**
   * explode_outer + null-filter instead of plain explode: Catalyst's
   * InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)` above a
   * non-outer explode, and predicate pushdown then substitutes the alias —
   * inlining the whole tokenise/shingle expression into a filter evaluated
   * at the scan (the derivation ran 3-4× per row; measured 4.3 s vs 0.8 s).
   * The rule skips outer generators, and a filter on the *generated*
   * attribute can never be pushed below the Generate.
   */
  private[graft] def explodeArr(sets: DataFrame, outName: String, extra: Column*): DataFrame =
    sets.select(col("id") +: extra :+ explode_outer(col("arr")).as(outName): _*)
      .where(col(outName).isNotNull)

  /** Distinct token sets as (id, tok) — per-doc dedup, no distinct shuffle. */
  def tokenSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    explodeArr(docSets(df, idCol, textCol, 1), "tok")

  /** Word k-shingles as (id, shingle) — k consecutive tokens joined by ' ',
    * distinct within doc (= distinct on (id, shingle), without the shuffle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    explodeArr(docSets(df, idCol, textCol, k), "shingle")

  /**
   * Exact n-gram (token-set) Jaccard near-duplicate pairs via an inverted
   * index self-join: shuffle key = token, intersection size by count, no
   * O(n²) candidate enumeration — only docs sharing ≥1 token ever meet.
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleK: Int = 1): DataFrame = {
    // dedup within-doc BEFORE exploding (array_distinct — per-row, no global
    // distinct shuffle) and carry the doc's set size on every exploded row:
    // sizes then ride the candidate shuffle for free instead of costing a
    // groupBy plus two post-joins. Materialised once (localCheckpoint) so
    // the self-join reads it twice with honest size stats instead of
    // re-tokenising per side.
    val sets = explodeArr(docSets(df, idCol, textCol, shingleK), "tok", size(col("arr")).as("sz"))
      .localCheckpoint()
    val a = sets.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = sets.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"))
    a.join(b, Seq("tok")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Exact Jaccard pairs via AllPairs-style PREFIX FILTERING — the scale path.
   *
   * The plain inverted-index join ([[jaccardPairs]]) meets every pair of
   * docs sharing ANY token, so a token appearing in d documents alone
   * produces d·(d−1)/2 candidate rows — quadratic in the frequency of the
   * hottest token, which is what explodes on a web-scale corpus (stopword-
   * like shingles). Prefix filtering bounds this: order every doc's tokens
   * by ascending global document frequency (rarest first, ties by token),
   * keep only each doc's first |A| − ⌈t·|A|⌉ + 1 tokens (the "prefix"), and
   * join prefixes only. If J(A,B) ≥ t then A and B must share ≥ ⌈t·|A|⌉
   * tokens, so at least one lies in A's prefix (and symmetrically B's) —
   * the join is lossless. Candidates then verify exactly against the full
   * sorted token arrays (array_intersect), so results are IDENTICAL to
   * [[jaccardPairs]]; only the candidate volume changes. A size filter
   * (t·max ≤ min) prunes further before verification.
   *
   * Cost shape at scale: the prefix join's hottest key is a token's
   * occurrences *in prefixes only* — frequent tokens land at the END of
   * every doc's ordering and never enter short prefixes, so the quadratic
   * blowup disappears; verification moves two token arrays per surviving
   * candidate (bounded by doc length, not corpus size).
   */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleK: Int = 1): DataFrame = {
    // checkpoint the COMPACT per-doc array form (one row per doc), not the
    // exploded relation (r4 checkpointed ~tokens rows; the explode below is
    // a narrow generate over the checkpoint, cheap to re-derive per consumer).
    // Shingles are hashed to 64-bit longs first: every downstream shuffle,
    // sort and array_intersect then moves/compares 8-byte values instead of
    // ~25-byte shingle strings. The hash is injective on any real corpus
    // (64-bit; collision odds ~n²/2⁶⁵), so pair set, intersection counts and
    // jaccard values are unchanged — the result never exposes the tokens.
    val base = docSets(df, idCol, textCol, shingleK)
      .select(col("id"), transform(col("arr"), t => xxhash64(t)).as("arr"))
      .localCheckpoint()
    val sets = explodeArr(base, "tok")
    val tokDf = sets.groupBy("tok").agg(count(lit(1)).as("df"))
    // One (df, tok)-sorted array per doc replaces BOTH the r4 row_number
    // window (which re-shuffled and sorted the whole exploded relation by
    // id) and the separate verification-array aggregation (a third full
    // shuffle by id). Deliberately NOT checkpointed: both consumers (prefix
    // explode, verification arrays) sit above the identical
    // Exchange(hashpartitioning(id)), which ReuseExchange dedups — and the
    // aggregation's output partitioning lets the verification joins run
    // exchange-free on the fat array side, which a checkpoint would destroy
    // (measured: checkpointed docs forced two full shuffles of the arrays,
    // 12 s vs 3 s for the whole operator).
    // every join below is hinted shuffle_hash: Catalyst's stats over the
    // derived relations are unreliable and pick BROADCAST builds — of the
    // token-df relation (= all distinct shingles at scale) and of the full
    // per-doc array relation (= the corpus), both impossible at 100 TB —
    // and the broadcast subtrees defeat AQE's exchange reuse, computing the
    // explode→df→agg pipeline once per consumer. Shuffle-hash keys every
    // join on its equi column, never sorts, and lets identical exchanges
    // dedup at runtime.
    val ordered = sets.join(tokDf.hint("shuffle_hash"), Seq("tok"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"),
        count(lit(1)).as("sz"))
      .withColumn("arr", transform(col("ord"), _.getField("tok")))
    // ⌈t·sz⌉ with a small epsilon so fp round-UP can only lengthen the
    // prefix (the lossless direction), never shorten it.
    // Hot-band skew cap (guide §2.5): a token appearing in d prefixes makes
    // the candidate self-join emit d·(d−1)/2 rows in ONE task — output
    // amplification AQE's input-byte skew splitting can never see. Rows are
    // triangle-chunked as in Similarity.semDedup: each prefix row takes a
    // deterministic chunk __ck within its token band, replicates once per
    // unordered chunk pair, and the join on (tok, __lo, __hi) meets every
    // pair exactly once with per-task input ≤ 2·maxBand rows. The chunk
    // count derives from the token's GLOBAL document frequency already
    // carried in `ord` — an upper bound on its prefix frequency — so the cap
    // costs no extra aggregate, join or broadcast; df ≤ maxBand (every band
    // at gate scale) degenerates to __m = 1, replication factor 1.
    val maxBand = sys.props.get("graft.jaccard.maxBandRows").map(_.toInt).getOrElse(8192)
    val prefix = ordered.select(col("id"), col("sz"),
      explode(slice(col("ord"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + lit(1)).cast(IntegerType))).as("o"))
      .select(col("id"), col("sz"), col("o.tok").as("tok"),
        ceil(col("o.df") / lit(maxBand.toDouble)).cast(IntegerType).as("__m"))
      .withColumn("__ck", pmod(xxhash64(col("id")), col("__m")).cast(IntegerType))
      .withColumn("__c2", explode(sequence(lit(0), col("__m") - 1)))
      .withColumn("__lo", least(col("__ck"), col("__c2")))
      .withColumn("__hi", greatest(col("__ck"), col("__c2")))
    val pairKey = Seq("tok", "__lo", "__hi")
    val cand = prefix.select(col("tok"), col("__lo"), col("__hi"),
        col("__ck").as("__cka"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("tok"), col("__lo"), col("__hi"),
          col("__ck").as("__ckb"), col("id").as("id_b"), col("sz").as("sz_b"))
        .hint("shuffle_hash"), pairKey)
      // keep exactly the meeting whose key IS the unordered chunk pair
      // {ck_a, ck_b} (dedups the __m meetings of same-chunk pairs)
      .where(col("__lo") === least(col("__cka"), col("__ckb")) &&
        col("__hi") === greatest(col("__cka"), col("__ckb")))
      .where(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")) >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9))
      .select("id_a", "id_b").distinct()
    val arrs = ordered.select(col("id"), col("arr"), col("sz"))
    val verified = cand.hint("shuffle_hash")
      .join(arrs.select(col("id").as("id_a"), col("arr").as("arr_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(arrs.select(col("id").as("id_b"), col("arr").as("arr_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
    verified
      .withColumn("jaccard", round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Portable 60-bit token hash: the first 15 hex digits of md5, parsed as an
   * integer. md5 is available bit-identically in every engine (Spark, DuckDB,
   * Trino, Postgres…), so pipelines built on this hash are reproducible — and
   * oracle-checkable — across engines, unlike engine-private hashes
   * (xxhash64 seeds differ between implementations).
   */
  def portableHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast(LongType)

  /** MinHash family h_i = (a_i·hm + b_i) mod p over the portable hash
    * reduced to 30 bits (`hm`) — products stay < 2^61, so the arithmetic is
    * exact in any 64-bit engine (no wrapping-overflow semantics to match).
    * The base hash is computed once per token; the 32 family members are
    * cheap affine transforms of it. */
  private def affineHash(hm: Column, seed: Int): Column = {
    val a = (1103515245L * (seed + 1)) % 2147483629L
    val b = (12345L * (seed + 1)) % 2147483647L
    (hm * a + b) % 2147483647L
  }

  /**
   * MinHash signatures: one row per doc, `sig` = array of numHashes minima.
   * Within-doc dedup happens per-row (array_distinct, no global distinct
   * shuffle); minima are then a single codegen'd grouped aggregation over
   * the token explode — map-side partial min per hash keeps shuffle volume
   * at O(docs × numHashes), independent of document length. (Deliberately
   * NOT a per-row lambda fold: higher-order-function lambdas evaluate
   * interpreted, ~100× slower per element than codegen'd hash aggregation —
   * measured 14 s vs 1.7 s on the 5k-doc gate corpus.)
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, shingleK: Int = 3): DataFrame = {
    val sets = explodeArr(docSets(df, idCol, textCol, shingleK), "tok")
    // one md5 per token, then numHashes cheap affine transforms of it
    val withBase = sets.withColumn("hm", portableHash(col("tok")) % 1073741789L)
    val mins = (0 until numHashes).map(i => min(affineHash(col("hm"), i)).as(s"h$i"))
    withBase.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /**
   * MinHash + LSH near-duplicate pairs: band the signature, bucket-join on
   * (band index, band hash), then estimate similarity as the fraction of
   * matching minhashes. Candidate generation cost is bounded by bucket
   * collisions, not n² — the standard LSH scale path.
   */
  // cache value = (checkpointed signatures, their row count): the count is
  // free to keep once paid and feeds SkewSalt's pay-as-you-go gate
  private val sigCache = new IndexCache[(DataFrame, Long)]()

  /** Hot band buckets (≥ [[SkewSalt.hotThreshold]] members) are salted by
    * default — lossless, spreads a hot bucket's k² pair enumeration across
    * [[SkewSalt.salts]] tasks (AQE cannot: it sees shuffle-INPUT size, and
    * this is OUTPUT amplification — measured, tools/SkewProbe).
    * `maxBucketSize` remains an optional hard cap on top: buckets above it
    * are dropped entirely (lossy) — a bucket that degenerate means
    * thousands of near-identical docs, which exact dedup ([[exact]])
    * removes more cheaply first. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
                      shingleK: Int = 3,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // materialised once per (session, corpus, params): signatures are a
    // build-once index artifact (same caching contract as the IVF index) —
    // the minhash, clustering, and keep-best pipelines over one corpus all
    // reuse the same build instead of re-hashing per call
    val (sigs, sigsN) = sigCache.get(
      IndexCache.key(df, idCol, textCol, numHashes, shingleK), {
        val d = minhashSignatures(df, idCol, textCol, numHashes, shingleK)
          .localCheckpoint()
        (d, d.count()) // counting the fresh checkpoint is a narrow, cheap job
      })
    // band bucket key: md5 of the band's minhash run — portable (the bucket
    // join is on string equality, any engine agrees on md5 of the same text)
    val banded0 = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat(concat_ws(",", slice(col("sig"), b * lit(r) + 1, lit(r))),
          lit("#"), b.cast(StringType))))))
      .select(col("id"), col("sig"), col("pos").as("band"), col("col").as("bh"))
    val (la, rb, jc) =
      SkewSalt.selfJoinSides(banded0, Seq("band", "bh"), col("id"), maxBucketSize,
        knownRows = Some(sigsN * bands)) // exact: banded0 = posexplode(bands)
    val a = la.select(col("band"), col("bh"), col("__salt"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = rb.select(col("band"), col("bh"), col("__salt"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val cand = a.join(b, jc).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").dropDuplicates("id_a", "id_b")
    cand.withColumn("est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          / lit(numHashes.toDouble), 6))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /**
   * 60-bit SimHash per document: token hashes vote ±1 per bit position,
   * weighted by term frequency; sign of the sum becomes the bit. One explode
   * + one grouped agg (60 conditional sums — map-side combinable). 60 bits
   * (not 64) because the portable md5-prefix hash yields 60 exact bits —
   * cross-engine reproducible, negligible quality difference.
   */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // explode + 60 conditional sums: all codegen'd, map-side combinable
    // (a per-row lambda fold over the token array would run interpreted —
    // see minhashSignatures)
    val toks = tokens(df, idCol, textCol).withColumn("h", portableHash(col("tok")))
    val bitSums = (0 until 60).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1)).as(s"b$i")
    }
    toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 60).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxDist.
   *
   * Candidate generation by pigeonhole over hash blocks, Manku-style
   * (Detecting Near-Duplicates for Web Crawling, WWW'07 §3):
   *
   *  - maxDist ≤ 3 (the near-dup regime) over ≥400k docs: 6 blocks of 10
   *    bits; dist ≤ 3 touches ≤ 3 blocks, so SOME 3 of the 6 blocks are
   *    fully equal — key each row by every C(6,3) = 20 block-triple
   *    (30-bit keys). LOSSLESS, and the 2^30-per-table key space keeps
   *    mean bucket occupancy ~0 at tens of millions of docs. (The 4×15-bit
   *    single-chunk keys saturate there: at 2M docs mean occupancy hit
   *    ~250 and verification went superlinear — 216 s vs 33.9 s,
   *    tools/SimhashScaleProbe.) Below 400k docs the cheaper 4-chunk keys
   *    win (also lossless for dist ≤ 3) — size crossover measured,
   *    overridable via -Dgraft.simhash.mankuMinRows.
   *  - maxDist > 3: exact pigeonhole would need maxDist+1 blocks of < 4
   *    bits (useless keys) — keep the 4×15-bit single-chunk keys as a
   *    documented approximate-recall candidate generator (a pair differing
   *    in all 4 chunks is missed; the DuckDB oracle replicates the same
   *    generator, so the gate pins the exact behavior).
   *
   * Both schemes verify candidates against the exact 60-bit distance, so
   * for maxDist ≤ 3 the RESULT is identical either way (spec-pinned).
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3): DataFrame = {
    // materialised: chunked feeds both sides of the chunk self-join
    val sh = simhash(df, idCol, textCol).localCheckpoint()
    val shN = sh.count() // narrow count of the fresh checkpoint (salt gate)
    // Scheme crossover (measured, tools/SimhashScaleProbe): the 20-table
    // explode costs ~2× at 200k docs (10.9 s vs 5.6 s) but the single-chunk
    // scheme saturates and goes superlinear above that (216 s vs 33.9 s at
    // 2M, identical pair counts). Both are LOSSLESS for maxDist ≤ 3, so the
    // choice is purely a size-keyed plan decision.
    val mankuMin = sys.props.get("graft.simhash.mankuMinRows").map(_.toLong).getOrElse(400000L)
    val manku = maxDist <= 3 && shN >= mankuMin
    val keys: Seq[Column] =
      if (manku) {
        def block(b: Int): Column =
          shiftright(col("simhash"), b * 10).bitwiseAND(0x3FFL)
        for {
          i <- 0 until 6; j <- i + 1 until 6; k <- j + 1 until 6
        } yield block(i).bitwiseOR(shiftleft(block(j), 10))
          .bitwiseOR(shiftleft(block(k), 20))
      } else (0 until 4).map(c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL))
    val chunked = sh.select(col("id"), col("simhash"),
      posexplode(array(keys: _*)))
      .select(col("id"), col("simhash"), col("pos").as("chunk"), col("col").as("ch"))
    val (la, rb, jc) = SkewSalt.selfJoinSides(chunked, Seq("chunk", "ch"), col("id"),
      knownRows = Some(shN * keys.size)) // exact: chunked = posexplode(keys)
    val a = la.select(col("chunk"), col("ch"), col("__salt"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = rb.select(col("chunk"), col("ch"), col("__salt"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    val cand = a.join(b, jc).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").dropDuplicates("id_a", "id_b")
    cand.withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /**
   * Connected components over a pair relation — the step that turns
   * near-duplicate PAIRS into duplicate CLUSTERS (one canonical id per
   * group), which is what a dedup pipeline actually keys its "keep one copy"
   * decision on at corpus scale.
   *
   * Algorithm: distributed min-label propagation with pointer jumping.
   * Each node starts labelled with itself; every round takes the minimum
   * label over its neighbourhood (one shuffle join + grouped MIN — map-side
   * combinable), then shortcuts label chains by one hop
   * (comp(v) ← comp(comp(v)), the pointer-jumping step of classic PRAM CC /
   * Hash-to-Min), so convergence is O(log diameter) rounds rather than
   * O(diameter). Every round's shuffle volume is |E| + |V| — never the
   * quadratic reachability relation — and each round cuts lineage with
   * localCheckpoint, the same loop discipline as the property-path closure.
   * The result labels every node with the MINIMUM id reachable from it
   * (a deterministic canonical representative).
   *
   * Small-graph path: the symmetrised edge relation is already materialised
   * (checkpoint) before the loop, so its row count is known; when its
   * estimated bytes pass the [[LocalGraph]] gate (long/int ids) the
   * components come from a driver-side walk over the interned adjacency
   * instead of 2-3 cluster rounds, with an identical result by
   * construction. Pair graphs ARE usually small relative to the corpus
   * (only near-dups create edges); web-scale edge sets take the
   * distributed loop.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    val edges = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .dropDuplicates().localCheckpoint()
    val integral = edges.schema.fields.forall(f =>
      f.dataType == LongType || f.dataType == IntegerType)
    if (integral && LocalGraph.fits(edges.count(), edges.schema)) return localComponents(edges)
    var labels = edges.select(col("u").as("id")).dropDuplicates()
      .withColumn("comp", col("id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      // per-round joins run over checkpointed relations (no stats) ->
      // hint shuffle_hash so each label-prop round skips two sorts
      val nbrMin = edges
        .join(Joins.shuffleHashUnlessSmall(
          labels.withColumnRenamed("id", "u").withColumnRenamed("comp", "nc")), "u")
        .groupBy(col("v").as("id")).agg(min(col("nc")).as("nbr"))
      val stepped = labels.join(Joins.shuffleHashUnlessSmall(nbrMin), Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
      // pointer jumping: follow the label one hop (comp is itself a node id);
      // `prev` rides along so convergence needs no extra join afterwards
      val compOf = stepped.select(col("id").as("jid"), col("comp").as("jcomp"))
      val next = stepped.join(Joins.shuffleHashUnlessSmall(compOf), stepped("comp") === compOf("jid"), "left")
        .select(stepped("id"), coalesce(col("jcomp"), stepped("comp")).as("comp"),
          (coalesce(col("jcomp"), stepped("comp")) =!= col("prev")).as("chg"))
        .localCheckpoint()
      changed = next.filter(col("chg")).count() // over checkpointed blocks — no recompute
      labels = next.drop("chg")
    }
    labels
  }

  /** Components of a collected (symmetric) edge set: each node not yet
    * labelled takes the walk from it as its component; canonical label =
    * min id per component — identical to the distributed loop. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val g = LocalGraph.build(edges.collect().map(r => (asLong(r.get(0)), asLong(r.get(1)))))
    val comp = new Array[Long](g.size)
    val done = new Array[Boolean](g.size)
    val walk = g.walker()
    for (v <- 0 until g.size if !done(v)) {
      val members = scala.collection.mutable.ArrayBuffer(v)
      walk.reach(v)(members += _)
      val label = members.iterator.map(g.keys(_)).min
      members.foreach { m => comp(m) = label; done(m) = true }
    }
    LocalGraph.toDF(edges.sparkSession, g.keys.indices.map(v => Row(g.keys(v), comp(v))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("comp", LongType, nullable = false))))
  }

  private def asLong(x: Any): Long = x match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(s"non-integral id: $other")
  }

  /** Full corpus clustering: every document labelled with its duplicate
    * cluster's canonical (minimum) id; documents in no pair are their own
    * singleton cluster. */
  def clusters(df: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    df.select(col(idCol).as("id")).join(Joins.shuffleHashUnlessSmall(cc), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("comp"), col("id")).as("cluster"))
  }

  /**
   * The dedup DECISION: per duplicate cluster keep the best document
   * (highest score, ties → lowest id) — the relation a pipeline joins
   * against to drop redundant copies while keeping the best exemplar.
   * One window over the cluster relation; shuffle key = cluster id.
   */
  def keepBest(clusters: DataFrame, scores: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = clusters.withColumnRenamed(idCol, "id")
      .join(Joins.shuffleHashUnlessSmall(
        scores.select(col(idCol).as("id"), col(scoreCol).as("__s"))), Seq("id"))
    val w = Window.partitionBy("cluster").orderBy(col("__s").desc, col("id").asc)
    joined
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("cluster")))
      .where(col("__rn") === 1)
      .select(col("cluster"), col("id").as("kept_id"), col("n_docs"), col("__s").as("best_score"))
  }

  /**
   * Benchmark DECONTAMINATION: flag training documents that share any
   * k-token shingle with an evaluation/benchmark corpus — the standard
   * "did the test set leak into the training data" sweep of an LLM data
   * pipeline.
   *
   * Shape for 100 TB: the eval side is a benchmark (MBs, not TBs), so its
   * distinct shingle set is broadcast and the training corpus streams
   * through a broadcast hash join — the big side never shuffles and the
   * per-doc aggregation is map-side combinable on the training partitions.
   * Returns one row per CONTAMINATED training doc:
   * (id, n_eval_docs, n_shared_shingles, top_eval_id) where top_eval_id is
   * the smallest eval doc id sharing a shingle (a deterministic exemplar
   * for triage).
   */
  def decontaminate(train: DataFrame, eval0: DataFrame, idCol: String,
                    textCol: String, k: Int = 3): DataFrame = {
    val trainSh = shingles(train, idCol, textCol, k)
      .select(col("id").as("train_id"), col("shingle"))
    val evalSh = shingles(eval0, idCol, textCol, k)
      .select(col("shingle"), col("id").as("eval_id"))
    trainSh.join(broadcast(evalSh), Seq("shingle"))
      .groupBy("train_id")
      .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
        countDistinct(col("shingle")).as("n_shared_shingles"),
        min(col("eval_id")).as("top_eval_id"))
  }
}
