package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftaccess.SessionFrames
import graft.Q
import graft.ops.Loops._
import graft.schema.Tables.{t, tSpread}

/** Document deduplication for LLM-pipeline data curation: exact (hash
  * groupBy), MinHash+LSH banding, exact n-gram Jaccard verification, and
  * SimHash — all oracle-checked (the MinHash/SimHash base hash is md5, which
  * DuckDB computes identically, so even the approximate structures are
  * deterministic across engines).
  *
  * Scale design (100 TB corpus):
  *  - shingling explodes each doc into ~|words| rows; `distinct` before the
  *    signature groupBy caps the per-doc fanout at the shingle-set size.
  *  - the LSH band self-join is the whole point: candidate generation is a
  *    hash-partitioned equi-join on (band, bandKey) — O(candidates), never
  *    the O(n²) all-pairs cross join.
  *  - exact Jaccard runs only on pairs that share ≥1 shingle (equi-join on
  *    shingle), and the final filter keeps near-dups; at 100 TB you'd add a
  *    frequency cap on ultra-common shingles to bound join skew (AQE skew
  *    handling covers the rest).
  */
object TextDedup {

  private val NumHashes = 8 // DEFAULT minhash signature length
  private val BandRows = 2 // DEFAULT rows per LSH band → 4 bands

  /** Runtime signature-width knobs: `graft.minhash.hashes` (k) and
    * `graft.minhash.bandRows` (r), defaults 8/2 — unchanged so q41's
    * statically-generated oracle stays strict. The defaults are
    * oracle-friendly but THIN for real 100 TB recall targets: with 4
    * bands of 2 the catch probability at Jaccard s is 1−(1−s²)⁴ (≈0.83
    * at s=0.6), while 64 hashes/2-row bands give 1−(1−s²)³² (≈1 at
    * s=0.6) — measured, not asserted, in SCALE.md's width table on
    * ScaleBench's planted near-dup families. k ≤ 128 is the exact
    * overflow bound of the Kirsch–Mitzenmacher seeds: h1, h2 < 2^56, so
    * max(i)·h2 + h1 ≤ 127·(2^56−1) + (2^56−1) = 2^63 − 128 < 2^63 —
    * still overflow-free in ANSI Spark and DuckDB BIGINT alike. */
  private[ops] def widths(s: SparkSession): (Int, Int) = {
    val k = s.conf.getOption("graft.minhash.hashes")
      .map(_.trim.toInt).getOrElse(NumHashes)
    val r = s.conf.getOption("graft.minhash.bandRows")
      .map(_.trim.toInt).getOrElse(BandRows)
    require(k > 0 && k <= 128 && r > 0 && k % r == 0,
      s"graft.minhash.hashes ($k) must be in [1, 128] and a multiple of " +
        s"graft.minhash.bandRows ($r); 128 is the overflow bound of the " +
        "h1 + i*h2 seed family")
    (k, r)
  }

  /** words of the lower-cased, trimmed text (Spark side). */
  private val wordsCol: Column = TextCommon.wordsCol

  /** 3-word shingles, 0-based Spark indexing. */
  private val shinglesExpr: Column = expr(
    """CASE WHEN size(words) >= 3 THEN
      |  transform(sequence(0, size(words) - 3),
      |    i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
      |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)

  /** doc_id → distinct shingle rows hashed to two 56-bit longs, memoized
    * per (session, dir): q41/q42/q43/q79/q72 all start from this frame, so
    * one persisted copy serves the whole dedup family instead of
    * re-exploding per query (and per self-join side).
    *
    * ONE md5 per shingle is the family's entire hashing budget: the hex
    * digest splits into h1 (chars 1–14) and h2 (chars 15–28), and every
    * downstream hash derives arithmetically — q42/q79 join on h1, q43's
    * 32-bit simhash base is h1's top 8 hex chars, q41's k minhash seeds
    * are (h1 + i·h2) mod (2^61−1) — the classic universal double-hashing
    * family; h1, h2 < 2^56 keep i·h2 + h1 < 2^63 for every i ≤ 127,
    * overflow-free in ANSI Spark and DuckDB BIGINT alike (see [[SeedMod]]
    * for why the modular wrap is load-bearing). The old layout persisted
    * shingle *strings* and
    * paid 8 md5s per shingle inside q41's aggregate; this persists 16
    * bytes/shingle and makes the signature aggregate pure arithmetic.
    * distinct runs on the hashes (identical in both engines, so oracle
    * parity is unaffected by the 2^-56 collision chance). Registered in
    * [[CacheRegistry]] so `clearCaches` releases it (no persist survives
    * Verify/Bench). */
  private[ops] def shingleRows(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cache(s, s"textdedup-shingles:$dir") {
      shingleRowsFor(tSpread(s, dir, "documents"))
    }

  /** The pure shingle→(h1, h2) transformation over ANY (doc_id, text)
    * frame — the map-side stage the batch path caches per (session, dir)
    * and the incremental path runs per micro-batch
    * (StreamingMinHashSpec). */
  def shingleRowsFor(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_md5_split assembles h1/h2 straight from the digest bytes —
    // bit-exact with the original md5-hex + conv(substring) formulation
    // (hex chars 1–14 ARE bytes 0–6; chars 15–28 ARE bytes 7–13), which
    // paid a 32-char hex materialization + two general-radix string
    // parses per shingle — a top term of the signature-stage cpu at
    // production width (SCALE.md k=64 profile). Md5SplitSpec pins the
    // equality property; the oracle side is untouched (DuckDB recomputes
    // the same split from md5 hex text).
    docs
      .select(col("doc_id"), wordsCol.as("words"))
      .select(col("doc_id"), explode(shinglesExpr).as("sh"))
      .select(col("doc_id"), call_function("graft_md5_split", col("sh")).as("hh"))
      .select(col("doc_id"),
        col("hh").getItem(0).as("h1"),
        col("hh").getItem(1).as("h2"))
      .distinct()
  }

  /** Skew mitigation for candidate generation at 100 TB: a shingle present
    * in K documents contributes K(K-1)/2 pairs to the shingle self-join, so
    * one boilerplate/header shingle shared by millions of docs is a
    * quadratic hot key. This drops shingles above a document-frequency cap
    * (standard stop-shingle treatment — ubiquity carries no dedup signal,
    * exactly like stop-words in retrieval). The filter is one extra narrow
    * aggregate + a semi-join on the same key the self-join shuffles on, so
    * it reuses the exchange partitioning. */
  def capDocFrequency(rows: DataFrame, maxDf: Long, key: String = "sh"): DataFrame = {
    val keep = rows.groupBy(col(key)).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col(key))
    rows.join(keep, Seq(key), "left_semi")
  }

  /** Shingle rows with the optional doc-frequency cap applied. OFF by
    * default — the oracle-checked queries stay exact; at scale enable with
    * `spark.conf.set("graft.textdedup.maxShingleDf", K)`, trading recall
    * on boilerplate-heavy near-dups for a bounded worst-case join key. */
  private[ops] def cappedShingleRows(s: SparkSession, dir: String): DataFrame = {
    val rows = shingleRows(s, dir)
    s.conf.getOption("graft.textdedup.maxShingleDf") match {
      case Some(k) => capDocFrequency(rows, k.trim.toLong, key = "h1")
      case None => rows
    }
  }

  /** MinHash signature + LSH band keys over a (doc_id, h1, h2) shingle
    * frame: 8 min-aggregate signature columns (Kirsch–Mitzenmacher seeds
    * h1 + i·h2), exploded into (doc_id, band, k0..k{r-1}) rows — the OTHER
    * map-side stage of q41, shared verbatim with the incremental
    * composition. Map-side partial agg compresses the signature shuffle to
    * one row per (partition, doc); band rows are 4 per doc. Crucially for
    * incremental use, the signature of a document depends ONLY on its own
    * shingles, so per-batch band rows are exactly the batch-global ones. */
  /** Mersenne prime 2^61−1: the modulus of the minhash seed family. The
    * wrap is NOT cosmetic — without it h1 + i·h2 is monotone in i·h2, so
    * for growing i the argmin converges to the h2 ordering and every
    * extra band re-measures the same permutation (measured: recall on the
    * planted mid-band plateaued at 0.82 from k=8's 0.67 even at k=128).
    * With the wrap the seeds are the classic universal family
    * (h1 + i·h2) mod p — measured recall 0.99+ at k=64 (SCALE.md). */
  private val SeedMod = 2305843009213693951L

  def bandRows(shingles: DataFrame): DataFrame = {
    val (numHashes, bandRowsN) = widths(shingles.sparkSession)
    rebandedRows(signatureFrame(shingles, numHashes),
      numHashes / bandRowsN, bandRowsN)
  }

  /** MinHash signature array (k min-aggregate slots) over a (doc_id, h1,
    * h2) shingle frame — the map-side half of [[bandRows]], exposed
    * separately so the S-curve audit (q341) can re-band ONE signature
    * under alternative (bands × rows) splits. */
  private[ops] def signatureFrame(shingles: DataFrame, numHashes: Int): DataFrame = {
    val s = shingles.sparkSession
    graft.functions.GraftFunctions.register(s)
    // Signature = k declarative min(pmod(h1 + i*h2, p)) columns — the
    // MEASURED winner, kept on evidence over the one-buffer Aggregator
    // VERDICT r12 prescribed (which is implemented as [[graft.functions
    // .MinHashSig]] and selectable via `graft.minhash.impl=agg`). Both
    // produce bit-identical signatures and band keys (MinHashSigSpec pins
    // equality at k=8/64), but the A/B at 200k docs / k=64 (StageProfile,
    // SCALE.md round 13) reads: declarative stage cpu 1,245 s vs the
    // Aggregator's 2,544 s — Spark plans the k mins as ONE codegen'd
    // HashAggregate over a fixed-width primitive buffer (no allocation
    // per row), while any object Aggregator pays a boxed (Long, Long)
    // tuple per input row plus ObjectHashAggregate's object map (and,
    // beyond spark.sql.objectHashAggregate.sortBased.fallbackThreshold's
    // default 128 groups/partition, a sort fallback that externally
    // sorted 7.6 GB of shingles). The r12-profiled 48 µs/shingle was the
    // hex/conv string parsing this round's graft_md5_split removed — the
    // buffer updates were never the dominant term. k=64 codegen width is
    // fine (measured; the width-32 Janino hazard in q43's scaladoc was
    // 32 aggregates over STRINGS, these are longs).
    val sig =
      if (s.conf.getOption("graft.minhash.impl").contains("agg")) {
        shingles.groupBy(col("doc_id"))
          .agg(call_function("graft_minhash",
            col("h1"), col("h2"), lit(numHashes)).as("sig"))
      } else {
        val sigAggs = (0 until numHashes).map { i =>
          min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(SeedMod))).as(s"s$i")
        }
        shingles.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
          .select(col("doc_id"),
            array((0 until numHashes).map(i => col(s"s$i")): _*).as("sig"))
      }
    sig
  }

  /** Explode a (doc_id, sig) signature frame into (doc_id, band,
    * k0..k{r-1}) band rows under an explicit (bands × rows) split — the
    * q41 layout is the `widths(s)` instance, q341 runs every split of
    * the same signature through here. */
  private[ops] def rebandedRows(sig: DataFrame, numBands: Int, bandRowsN: Int): DataFrame = {
    // Band key = the r signature slots as r LONG columns (k0..k{r-1}),
    // NOT a '|'-concatenated string: the string was injective on decimal
    // longs, so componentwise equality is the SAME candidate predicate
    // (q41 oracle untouched — its own internal key text is its business),
    // but a band row shrinks from doc_id + ~39 decimal-digit bytes to
    // doc_id + r longs, and the self-join hashes/compares fixed-width
    // longs instead of strings — on the funnel's largest shuffle (the
    // band exchange at k=64), measured in SCALE.md round 13.
    val bandStructs = (0 until numBands).map { j =>
      val slots = (0 until bandRowsN)
        .map(r => col("sig").getItem(j * bandRowsN + r).as(s"k$r"))
      struct(lit(j).as("band") +: slots: _*)
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id") +: col("b.band").as("band") +:
        (0 until bandRowsN).map(r => col(s"b.k$r").as(s"k$r")): _*)
  }

  /** LSH candidate generation over (doc_id, band, k0..k{r-1}) rows: the
    * hash-partitioned equi-join on (band, k*) — O(candidates), never the
    * O(n²) all-pairs join. Works identically over one batch frame or the
    * union of incrementally-accumulated band rows. */
  def bandCandidates(bands: DataFrame): DataFrame = {
    // Explicit schema contract (ADVICE r13): exactly doc_id, band,
    // k0..k{r-1} — a caller-supplied extra column (e.g. 'keeper') must
    // error here, not silently join on every name starting with 'k'.
    val kCols = (0 until bands.columns.length - 2).map(r => s"k$r")
    require(bands.columns.toSet == (Set("doc_id", "band") ++ kCols),
      s"bandCandidates expects exactly (doc_id, band, k0..k${kCols.size - 1}); " +
        s"got (${bands.columns.mkString(", ")})")
    val keyCols = "band" +: kCols
    val x = bands.as("x")
    val y = bands.as("y")
    val keysEq = keyCols.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _)
    x.join(y, keysEq && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Verified near-dup pairs (doc_a < doc_b, jac ≥ 0.5) — q42's pipeline,
    * shared with q72's clustering stage, so it is memoized like the
    * shingle frame (keyed on the doc-frequency cap so toggling it can't
    * serve stale pairs): the overlap self-join is the family's most
    * expensive stage and runs once per (session, dir, cap), not once per
    * consumer. `sh` is persisted by its own memoizer; the hashed
    * projection is a cheap map over that cache feeding both self-join
    * sides and the sizes agg. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val capKey = s.conf.getOption("graft.textdedup.maxShingleDf").getOrElse("off")
    CacheRegistry.cache(s, s"textdedup-jacpairs:$dir:cap=$capKey") {
      jaccardPairsUncached(s, dir)
    }
  }

  private def jaccardPairsUncached(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(cappedShingleRows(s, dir).select(col("doc_id"), col("h1").as("h")))

  /** The overlap self-join + Jaccard threshold over any (doc_id, h) shingle
    * frame — shared by the conf-gated family path and q100's explicit-cap
    * variant so the two can never drift. */
  /** Exposed for the streaming funnel composition
    * (StreamingDedupFunnelSpec): verified pairs over ANY (doc_id, h)
    * shingle frame — per-batch shingle partials accumulate in the
    * idempotent store and re-derive pairs exactly as the batch path. */
  private[graft] def verifiedPairsFor(hs: DataFrame): DataFrame =
    jaccardPairsFrom(hs)

  private def jaccardPairsFrom(hs: DataFrame): DataFrame = {
    val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = interCounts(hs)
    val jac = col("i") * lit(1.0) /
      (col("sa.n") + col("sb.n") - col("i"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), jac.as("jac"))
  }

  /** Pair intersection counts |A ∩ B| for all doc pairs sharing ≥1 shingle
    * — the verify join of the dedup family (q42/q100/q112/q119 and q72's
    * input).
    *
    * Default: the DIRECT formulation — kept on measurement over
    * AllPairs/PPJoin prefix filtering (Bayardo WWW'07 / Xiao WWW'08),
    * which round 13 built and A/B-profiled at 200k docs / k=64 / cap=64:
    * the prefix variant needs per-doc rank structure over the full shingle
    * frame (a shuffle-by-doc plus window sorts that spilled 23.6 GB TWICE
    * and tripled total cpu to 17k s), while its candidate cut buys little
    * here because [[capDocFrequency]] has ALREADY bounded every df at the
    * cap — Σ df² is modest once the heavy tail is gone. SCALE.md round 13
    * "prefix filtering: measured and rejected"; JaccardPrefixSpec pins
    * this output against a brute-force reference.
    *
    * `graft.textdedup.verifyBatchUnits = P` bounds the per-PASS working
    * set (VERDICT r13 item 1 — the family's last memory constant that
    * grew with corpus-per-executor): the intersection count decomposes
    * exactly over any partition of the SHINGLE space,
    * |A ∩ B| = Σ_b |{h ∈ A ∩ B : bucket(h) = b}|, so the self-join runs
    * as sequential passes over disjoint shingle-hash buckets, each
    * materializing its PRE-AGGREGATED partials (≤ one row per pair per
    * pass) via an eager pin before the next pass starts; a final sum
    * over the unioned partials reassembles exact counts.
    *
    * What the budget bounds — CORRECTING the r13 attribution: the
    * verify working set is NOT dominated by ΣC(df,2) pair partials.
    * Measured at 200k docs / cap 64, the capped frame holds 119.5M
    * shingle rows over 114.4M distinct shingles (mean df 1.04), so the
    * pair mass is only 13.9M (~220 MB) — the 49 GB worst-stage spill is
    * the SORT-MERGE JOIN'S INPUT SORT of the two 119.5M-row join sides
    * (Spark sorts shuffle input in the reading stage). Bucketing fixes
    * that too, because a shingle-hash bucket partitions the join-input
    * ROWS along with the pairs. The pass count is therefore sized on
    * units = rows + pairs (both one narrow agg over the family-cached
    * frame): B = ⌈(Σdf + ΣC(df,2)) / P⌉, capped at 64 passes. Measured
    * ladder in SCALE.md round 14, incl. an 8 GB-heap completion that
    * OOMs unbatched. Exactness: counts are sums over disjoint shingle
    * sets — same totals, same Jaccard, same output hashes
    * (JaccardBatchSpec; driver oracles unchanged at 3 SFs). OFF by
    * default: the oracle suite's corpora fit a single pass, and the
    * batch boundary costs B scans of the cached shingle frame. */
  private def interCounts(hs: DataFrame): DataFrame = {
    val s = hs.sparkSession
    def partialsFor(frame: DataFrame): DataFrame =
      frame.as("x").join(frame.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
    val budget = s.conf.getOption("graft.textdedup.verifyBatchUnits")
      .map(_.trim.toLong)
    budget.filter(_ > 0).map { p =>
      // units = join-input rows (Σdf — the SMJ input-sort term, the
      // MEASURED dominant cost) + pair partials (ΣC(df,2)) — one narrow
      // agg over the (family-cached) frame
      val r = hs.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .agg(coalesce(sum(col("df")), lit(0L)).as("rows"),
          coalesce(sum(col("df") * (col("df") - lit(1L))), lit(0L)).as("m2"))
        .head()
      val units = r.getLong(0) + r.getLong(1) / 2
      // pass count capped at 64: each pass pays fixed job/pin overhead,
      // and 64 already divides the worst-case sort by 64 — a tighter
      // budget than units/64 asks for more passes than it buys working
      // set; the budget is the target per-pass load, not a hard bound
      // past the cap
      val b = math.min(64L, math.max(1L, (units + p - 1) / p)).toInt
      if (b > 1) System.err.println(
        s"[graft] verify-join batching: units=$units budget=$p passes=$b")
      if (b == 1) partialsFor(hs)
      else {
        import graft.ops.Loops.Pinnable
        val parts = (0 until b).map { i =>
          // eager pin = this pass's join+sort runs NOW and only its
          // aggregated partials survive into the union; the next pass's
          // working set never coexists with this one's
          partialsFor(hs.filter(pmod(col("h"), lit(b.toLong)) === lit(i.toLong)))
            .pin()
        }
        parts.reduce(_ union _)
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("i")).as("i"))
      }
    }.getOrElse(partialsFor(hs))
  }

  /** Scale probe (graft.ScaleBench): number of doc pairs sharing ≥1
    * shingle after the optional doc-frequency cap — the candidate-set size
    * the overlap join materializes. A boilerplate shingle in K docs alone
    * contributes K(K−1)/2 of these, so this count is the direct evidence
    * for whether the cap keeps candidate growth linear in corpus size. */
  def overlapPairCount(s: SparkSession, dir: String): Long = {
    val hs = cappedShingleRows(s, dir).select(col("doc_id"), col("h1").as("h"))
    hs.as("x").join(hs.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation: every doc starts labeled with its own id; each round a
    * doc takes the min label among itself and its neighbors; fixpoint =
    * components, and the component label (min doc_id) is the canonical
    * "keeper" — the standard collapse step after pair generation in a
    * dedup pipeline.
    *
    * Scale: each round is one equi-join on the edge key + one min-agg —
    * all hash-partitioned, no driver-side graph. Rounds needed = graph
    * diameter; near-dup families are shallow (pairs come from a similarity
    * threshold), so a handful of rounds converge — and every round ALSO
    * pointer-doubles (a doc additionally takes its label's current label),
    * so even an adversarial diameter-D chain converges in O(log D) rounds
    * rather than D: the 25-round bound covers diameter 2^25. Each round
    * ends in an eager `localCheckpoint`: the labels frame is referenced
    * several times per round, so without lineage truncation the lazy plan
    * multiplies every iteration (a driver OOM, not a data problem);
    * checkpointing is how any distributed iterative algorithm bounds plan
    * growth (reliable `checkpoint` on a cluster). Checkpointed partitions
    * are dropped by the ContextCleaner when unreferenced. */
  def clusterPairs(s: SparkSession, pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // symmetric closure + a self-loop per node: with (doc, doc) edges the
    // per-round "keep your own label" is expressed by the join itself, so
    // the loop body needs no Union (a Union whose arm contains the
    // pointer-doubling self-join trips Catalyst's constraint rewriting)
    val sym = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
    val edges0 =
      sym.union(sym.select(col("a")).distinct().select(col("a"), col("a").as("b")))
    // The loop body runs at parallelism sized to the edge list, not the
    // session default: each round is a join+agg over a frame no larger
    // than the edge set, and at toy scale 32-partition exchanges cost more
    // in task scheduling than the data costs to process. ~2M edge rows per
    // partition keeps a 100 TB-derived pair set at full parallelism while
    // a few-thousand-pair corpus runs the whole loop in one task per stage.
    // The low parallelism lives in a child session (own SQLConf, shared
    // SparkContext): mutating the caller's shuffle.partitions would race
    // any concurrent query planned on that session and, under concurrent
    // clusterPairs calls, restore the wrong value permanently.
    // The one-time symmetric closure + self-loops build under the caller's
    // parallelism; its count sizes the loop before the child is picked.
    val edgesIn = s.createDataFrame(edges0.rdd, edges0.schema).persist()
    val nEdges = edgesIn.count() // also materializes the persist
    val loop = loopSession(s, nEdges)
    val edges = SessionFrames.on(loop, edgesIn) // reads the caller's persist
    // Seed with one neighborhood-min pre-pass instead of identity labels:
    // the self-loop edges make min-over-neighbors = min(self, neighbors),
    // so threshold-clique families (every member adjacent to the keeper —
    // the typical near-dup shape) carry the final label after round 0 and
    // the loop only has to confirm the fixpoint. On LongType ids the seed
    // is further tightened by the same per-partition union-find pre-pass
    // the star engine runs ([[localForest]]): label₀ = least(neighborhood
    // min, partition-local component root). The root is a member of the
    // doc's component and ≤ every partition-local member, so the monotone-
    // decrease invariant (and with it the label-sum convergence signal)
    // is untouched — but intra-partition chain distance collapses to 1
    // and the O(log D) doubling rounds start from the cross-partition
    // diameter (~#partitions) instead of the graph diameter. One narrow
    // pass over the persisted edge list + one (node, root) min-shuffle.
    var labels: DataFrame = null
    var converged = false
    var round = 0
    val ps = Loops.scope(loop) // chain scope: round k supersedes k−1
    try {
      val seedBase = edges.groupBy(col("a").as("doc")).agg(min(col("b")).as("lbl"))
      val seed =
        if (nEdges > 0 &&
          pairs.schema.fields.forall(_.dataType ==
            org.apache.spark.sql.types.LongType)) {
          val roots = localForest(edges.toDF("u", "v"))
            .groupBy(col("u").as("doc")).agg(min(col("v")).as("r"))
          seedBase.join(roots, Seq("doc"), "left")
            .select(col("doc"),
              least(col("lbl"), coalesce(col("r"), col("lbl"))).as("lbl"))
        } else seedBase
      labels = seed.pin(ps, eager = false)
      // Min-propagation is monotone: labels only ever decrease, so the label
      // sum is a complete convergence signal — computing it on the lazily-
      // checkpointed frame materializes the checkpoint AND returns the
      // signal in ONE action per round (an explicit changed-rows join+count
      // would double the actions). sum over zero rows is NULL: an empty
      // pair set (no near-dups in the corpus) converges immediately.
      val initRow = labels.agg(sum(col("lbl"))).head()
      var prevSum = if (initRow.isNullAt(0)) 0L else initRow.getLong(0)
      converged = initRow.isNullAt(0)
      while (!converged && round < maxRounds) {
        // pointer doubling first: each doc takes its label's current label,
        // halving the remaining distance to the component minimum
        val doubled = labels.as("p")
          .join(labels.as("q"), col("p.lbl") === col("q.doc"), "left")
          .select(col("p.doc").as("doc"),
            least(col("p.lbl"), coalesce(col("q.lbl"), col("p.lbl"))).as("lbl"))
        // …then one hop along the (self-loop-closed) similarity edges
        val prop = doubled.join(edges, col("doc") === col("a"))
          .select(col("b").as("doc"), col("lbl"))
          .groupBy(col("doc")).agg(min(col("lbl")).as("lbl"))
          .pin(ps, eager = false) // first action checkpoints + truncates lineage
        val sumNow = prop.agg(sum(col("lbl"))).head().getLong(0)
        labels = prop
        converged = sumNow == prevSum
        prevSum = sumNow
        round += 1
      }
    } finally edgesIn.unpersist(blocking = false) // labels is checkpointed — lineage-free
    if (!converged)
      graft.ingest.GraftLog.warn("clusterPairs round bound reached before convergence",
        s"rounds=$round — results may be partially propagated")
    // hand the converged (checkpointed) labels back to the CALLER's session
    // so the post-loop aggregation runs at its parallelism, not the loop's
    val labelsOut = s.createDataFrame(labels.rdd, labels.schema)
    assembleClusters(labelsOut.withColumnRenamed("lbl", "cluster_id"))
  }

  /** The CC loops' child session (see [[Loops.child]]): shuffle
    * parallelism sized to the edge count, ~2M edge rows per partition and
    * at most the caller's `spark.sql.shuffle.partitions`, plus the
    * caller's checkpoint posture, which a child does not inherit. */
  private def loopSession(s: SparkSession, nEdges: Long): SparkSession = {
    val defaultParts = s.conf.get("spark.sql.shuffle.partitions").toLong
    val loopParts = math.max(1L, math.min(defaultParts, nEdges / 2000000L + 1L))
    Loops.child(s, Map("spark.sql.shuffle.partitions" -> loopParts.toString) ++
      s.conf.getOption(Loops.PinKey).map(Loops.PinKey -> _))
  }

  /** (doc, cluster_id) labels → the q72 output shape: cluster size join +
    * keeper flag (keeper = the doc whose id IS the component minimum). */
  private def assembleClusters(comp: DataFrame): DataFrame = {
    val sizes = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("cluster_id"))
      .select(col("doc").as("doc_id"), col("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        (col("doc") === col("cluster_id")).as("is_keeper"))
  }

  /** Alternative connected-components engine: alternating LARGE-STAR /
    * SMALL-STAR contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) over canonical directed edges
    * (u, v), u > v — each edge points from the larger id to the smaller.
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(Γ(u) ∪ {u}) — long chains contract toward their minimum
    *    from every interior node simultaneously;
    *  - small-star: every node links its smaller neighbors (and itself) to
    *    the minimum of that smaller-neighborhood — consolidating partial
    *    stars into flatter ones.
    *
    * At the joint fixpoint the edge set IS the star forest (child → root
    * for every non-root), converging in O(log n) alternations. Versus
    * [[clusterPairs]] (pointer doubling over a STATIC edge list + labels
    * frame), the star rounds REWRITE the edge list itself, which typically
    * SHRINKS per round (toward |V| − #components rows) — so per-round
    * shuffle volume decays where pointer doubling's stays proportional to
    * the original edges. The flip side: each alternation is two
    * join+agg+distinct passes vs pointer doubling's one join + one
    * agg-join. Which wins depends on edge density and diameter —
    * graft.ScaleBench measures both on the planted corpus (SCALE.md) and
    * the conf gate `graft.textdedup.ccAlgo=star` lets a deployment pick.
    *
    * Same iterative-loop hygiene as [[clusterPairs]]: reused
    * low-parallelism child session, lazy localCheckpoint truncating
    * lineage each round, ONE action per round (count + order-insensitive
    * xxhash64 sum as the fixpoint signal — the star steps are not
    * label-monotone, so a sum of labels is not a valid signal here). */
  def clusterPairsStar(s: SparkSession, pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    val init = pairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct()
    // node set for the final label assembly: once a component fully
    // contracts, its root keeps edges only on the v side — and a node can
    // drop off BOTH sides transiently, so labels must be rebuilt against
    // the original endpoint set, not the final edge list alone
    val initIn = s.createDataFrame(init.rdd, init.schema).persist()
    val nEdges = initIn.count()
    val loop = loopSession(s, nEdges)
    val loopParts = loop.conf.get("spark.sql.shuffle.partitions").toInt
    val edges0 = SessionFrames.on(loop, initIn)
    // LOCAL-CONTRACTION PRE-PASS: per-partition union-find replaces each
    // partition's subgraph with a star forest (node → partition-local
    // root) in ONE narrow pass, no shuffle. Connectivity is exactly
    // preserved — both endpoints of an intra-partition edge share a root,
    // and a node split across partitions bridges its per-partition roots
    // — while the effective diameter drops from the graph's diameter to
    // ~#partitions. The alternation loop below is O(log diameter), so
    // the giant-long-chain regime (SCALE.md "Mutual-kNN components")
    // collapses from ~log₂(chain length) rounds to a couple of
    // confirmation rounds. Per-partition state is one long→long map over
    // the partition's nodes — bounded by the scan's maxPartitionBytes at
    // any corpus size. Applied only to LongType node ids (every ops.*
    // caller) so label output types never shift.
    val ps = Loops.scope(loop) // chain scope: each alternation supersedes the last
    // Coalesce the pre-pass input to the LOOP's partition dial
    // (OPTIMIZATION_r17): the parent session hands the edge frame over
    // at its own shuffle.partitions (32 locally), so the per-partition
    // union-find saw the chain sliced 32 ways and left ~|partitions|
    // bridge edges — the alternation loop then needed ~log₂(32) rounds
    // of single-task stage waves (pure driver latency at local scale).
    // loopParts is the SAME edges/2M scale dial that sizes the loop's
    // shuffles, so per-partition state stays bounded at any corpus size;
    // at sf0.1 one partition contracts the whole graph in the pre-pass
    // and the loop runs only its two confirmation probes (6 → 2
    // actions, isolated wall 2.60 → ~1.3 s).
    val preContracted =
      if (nEdges > 0 &&
        init.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType))
        localForest(edges0.coalesce(loopParts)).pin(ps, eager = false)
      else edges0
    // decimal(38,0) sum: a long sum of 2^63-scale hashes overflows (an
    // ERROR under ANSI mode, silent wraparound otherwise); 1e12 edges ×
    // 9.2e18 max hash ≈ 9e30 stays inside 38 digits
    def signature(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var edges: DataFrame = preContracted
    var converged = nEdges == 0L
    var round = 0
    var prevSig: (Long, BigDecimal) = (-1L, BigDecimal(-1))
    // Convergence-probe cadence (OPTIMIZATION_r17, VERDICT r16 item 8).
    // Measured DEAD END, kept for the record: probing every 2nd round
    // (fusing two alternations into one action) read 4.87 s vs 2.60 s
    // isolated at sf0.1 — the skipped round's LAZY pin is still
    // unmaterialized while the next round references it from multiple
    // branches (sym's union reads `edges` twice), so its materialization
    // races and duplicates exactly like the minePairs lazy-pin dead end.
    // What DOES cut actions is cutting ROUNDS: see the coalesce on the
    // pre-pass below (2 probes total at sf0.1, down from ~6). The knob
    // stays at 1 unless a deployment proves otherwise.
    val checkEvery = math.max(1, s.conf
      .getOption("graft.textdedup.ccCheckEvery").map(_.toInt).getOrElse(1))
    var sinceProbe = 0
    try {
      while (!converged && round < maxRounds) {
        // LARGE-STAR: symmetric view; m(a) = min over neighborhood ∪ self;
        // larger neighbors b > a re-point to m. b > a ≥ m keeps the output
        // canonical (u > v) with no self-loops.
        val sym = edges.select(col("u").as("a"), col("v").as("b"))
          .union(edges.select(col("v").as("a"), col("u").as("b")))
        val minsL = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
          .select(col("a"), least(col("mb"), col("a")).as("m"))
        val large = sym.filter(col("b") > col("a"))
          .join(minsL, Seq("a"))
          .select(col("b").as("u"), col("m").as("v"))
          .distinct()
        // SMALL-STAR on the canonical (larger → smaller) edges: each u's
        // smaller neighbors all re-point to their minimum; u itself too.
        val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
        val small = large.join(minsS, Seq("u"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(minsS.select(col("u"), col("m").as("v")))
          .distinct()
          .pin(ps, eager = false) // first action checkpoints + truncates lineage
        edges = small
        round += 1
        sinceProbe += 1
        if (sinceProbe >= checkEvery || round >= maxRounds) {
          val sig = signature(small)
          converged = sig == prevSig
          prevSig = sig
          sinceProbe = 0
        }
      }
    } finally initIn.unpersist(blocking = false)
    if (!converged)
      graft.ingest.GraftLog.warn("clusterPairsStar round bound reached before convergence",
        s"rounds=$round — results may be partially contracted")
    val starOut = s.createDataFrame(edges.rdd, edges.schema)
    val nodes = pairs.select(col("doc_a").as("doc"))
      .union(pairs.select(col("doc_b").as("doc"))).distinct()
    // at fixpoint each non-root has exactly one (child → root) edge;
    // roots are absent from the u side and label themselves
    val comp = nodes
      .join(starOut.withColumnRenamed("u", "doc"), Seq("doc"), "left")
      .select(col("doc"), coalesce(col("v"), col("doc")).as("cluster_id"))
    assembleClusters(comp)
  }

  /** One sequential union-find (path compression + union-by-min) per
    * partition of a canonical (u, v) LongType edge frame; emits the
    * partition-local star forest as (node, root) rows, node > root (the
    * root is its set's minimum, so orientation stays canonical). Emitted
    * row count is ≤ nodes-in-partition − #local-roots — for dense
    * partitions this SHRINKS the edge list before the first shuffle. */
  private def localForest(edges: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    edges.select(col("u"), col("v")).as[(Long, Long)](enc)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
          var y = x0 // path-compress the walked chain
          while (y != x) { val n = parent.getOrElse(y, y); parent.update(y, x); y = n }
          x
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        // materialize keys first: find() path-compresses (mutates values)
        // and LongMap iteration is not mutation-safe
        val nodes = parent.keys.toArray
        nodes.iterator.map(n => (n, find(n))).filter { case (n, r) => n != r }
      }(enc)
      .toDF("u", "v")
  }

  /** Conf-gated dispatch between the two distributed CC engines —
    * `graft.textdedup.ccAlgo` = `pointer` (default; [[clusterPairs]]) or
    * `star` ([[clusterPairsStar]]). Both produce identical clusterings
    * (ClusterSpec asserts it); ScaleBench measures the shuffle/wall
    * trade so the choice is data, not taste. */
  def clusterComponents(s: SparkSession, pairs: DataFrame, maxRounds: Int = 25): DataFrame =
    s.conf.getOption("graft.textdedup.ccAlgo") match {
      case Some("star") => clusterPairsStar(s, pairs, maxRounds)
      case _ => clusterPairs(s, pairs, maxRounds)
    }

  /** (doc_id, cluster_id) labels over the verified near-dup pairs —
    * memoized like the pair frame itself. q72, q277 and q283 all consume
    * the SAME clustering of the SAME pairs; before round 13 each ran its
    * own CC loop, and the funnel attribution (SCALE.md round 13) measured
    * q283 re-paying it per run — the loop's per-round fixed costs, not a
    * scan-path term, were the report's whole superlinear wall/shuffle
    * column. One persisted labeling (a row per clustered doc — tiny)
    * serves every consumer; keyed on the skew-cap and CC-algo confs so
    * toggling either can never serve stale labels (the jaccardPairs
    * rule). */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val capKey = s.conf.getOption("graft.textdedup.maxShingleDf").getOrElse("off")
    val algoKey = s.conf.getOption("graft.textdedup.ccAlgo").getOrElse("pointer")
    CacheRegistry.cache(s, s"textdedup-cclabels:$dir:cap=$capKey:algo=$algoKey") {
      clusterComponents(s,
        jaccardPairs(s, dir).select(col("doc_a"), col("doc_b")))
    }
  }

  /** Shared oracle CTE: same shingling + one-md5 split into (h1, h2) in
    * DuckDB (1-based list indexing; hex parsed via strpos like Spark's
    * conv). Mirrors [[shingleRows]] exactly. */
  private[ops] val ShingleCte: String =
    raw"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
         |           FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - 1, 1)),
         |    i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS m
         |  FROM w),
         |sh AS (SELECT DISTINCT doc_id,
         |    ${TextCommon.duckHex("m", 14)} AS h1,
         |    ${TextCommon.duckHex("m", 14, from = 15)} AS h2
         |  FROM g)""".stripMargin

  /** The q283 funnel math over ANY (doc_id, n_words, fp) token frame and
    * (cdoc, cluster_id) component labeling — shared by the batch query and
    * the streaming composition (StreamingDedupFunnelSpec), so the two can
    * never drift: raw → exact keepers (min doc per fp) → near-dup keepers
    * (min SURVIVING member per cluster), with doc/token shares of raw. */
  private[graft] def funnelReport(tok: DataFrame, comp: DataFrame): DataFrame = {
    val keep = tok.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    val ex = tok.join(keep,
      tok("fp") === keep("fp") && tok("doc_id") === keep("keeper"))
      .select(col("doc_id"), col("n_words"))
    val k2 = comp.join(ex, comp("cdoc") === ex("doc_id"))
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("keeper2"))
    val nd = ex.join(comp, ex("doc_id") === comp("cdoc"), "left")
      .join(k2, Seq("cluster_id"), "left")
      .filter(col("cdoc").isNull || col("doc_id") === col("keeper2"))
      .select(col("doc_id"), col("n_words"))
    def stage(df: DataFrame, k: Int) =
      df.agg(count(lit(1)).as("d"), sum(col("n_words")).as("t"))
        .select(lit(k).as("stage"), col("d"), col("t"))
    val rawS = stage(tok, 0)
    val funnel = rawS.unionAll(stage(ex, 1)).unionAll(stage(nd, 2))
    val denom = rawS.select(col("d").as("d0"), col("t").as("t0"))
    funnel.crossJoin(broadcast(denom))
      .select(col("stage"), col("d").cast("long").as("n_docs"),
        col("t").cast("long").as("n_tokens"),
        round(col("d").cast("double") / col("d0"), 6).as("doc_share"),
        round(col("t").cast("double") / col("t0"), 6).as("token_share"))
      .orderBy(col("stage"))
  }

  val qs: Seq[Q] = Seq(

    // ---- exact dedup: hash-groupBy on content ----
    // keeper = min doc_id per content hash; n_docs > 1 marks duplicate sets.
    // One shuffle on the hash; at 100 TB this is the standard exact-dedup
    // pass (hash first so the shuffle key is 32 bytes, not the document).
    Q("q40_dedup_exact",
      """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY fp""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
        .orderBy(col("fp"))
    },

    // ---- MinHash + LSH banding: near-dup candidate pairs ----
    // The k per-seed hashes are (h1 + i·h2) mod (2^61−1) over the shared
    // one-md5 shingle hash — universal double hashing: k independent-
    // enough functions from one digest, no per-seed md5, and the modular
    // wrap is what keeps bands independent as k grows (see [[SeedMod]]).
    // min over a fixed-width long keeps the signature aggregate hash-based
    // (min over strings forces SortAggregate) and the shuffled signature
    // is 8×8 bytes at the default width (conf-gated wider via
    // graft.minhash.hashes/bandRows — SCALE.md's recall table).
    Q("q41_minhash_lsh", {
      val sigCols = (0 until NumHashes)
        .map(i => s"min((h1 + $i * h2) % 2305843009213693951) AS s$i")
        .mkString(",\n    ")
      val bandSelects = (0 until NumHashes / BandRows).map { j =>
        val key = (0 until BandRows).map(r => s"CAST(s${j * BandRows + r} AS VARCHAR)")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $j AS band, $key AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""$ShingleCte,
         |sig AS (SELECT doc_id,
         |    $sigCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandSelects)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      // Signature = 8 min-aggregate columns of pure arithmetic over the
      // persisted (h1, h2) shingle hashes (see [[bandRows]] — an exploded
      // (doc, seed) layout was measured 5× slower because 40k+ groups
      // defeat partial-agg compression). The band self-join on (band, k*)
      // is the LSH candidate join ([[bandCandidates]]).
      // persist: both sides of the self-join read `bands` — without it the
      // whole shingle→signature pipeline runs twice (broadcast side gets a
      // different exchange shape, so ReusedExchange can't kick in).
      // Registered for release via CacheRegistry.clear. Keyed on the
      // doc-frequency cap so toggling it can't serve stale candidates.
      val capKey = s.conf.getOption("graft.textdedup.maxShingleDf").getOrElse("off")
      // keyed on the signature width too: a session that widens
      // graft.minhash.hashes mid-flight must not be served 8-hash bands
      val (wk, wr) = widths(s)
      val bands = CacheRegistry.cache(s, s"q41-bands:$dir:cap=$capKey:k=$wk:r=$wr") {
        bandRows(cappedShingleRows(s, dir))
      }
      bandCandidates(bands)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- exact n-gram Jaccard on shingle-sharing pairs ----
    // The verification stage after LSH candidate generation: join on the
    // shingle itself (pairs with zero overlap never materialize), then
    // |A∩B| / |A∪B| with a ≥0.5 near-dup threshold.
    // The self-join key is the 56-bit shingle hash h1, not the string: an
    // 8-byte join key halves the shuffled/broadcast bytes and both engines
    // hash identically, so results stay exact (a 2^-56 collision would be
    // computed identically on both sides anyway).
    Q("q42_ngram_jaccard",
      s"""$ShingleCte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      jaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash (32-bit, md5-derived) ----
    // Per-shingle 32-bit hash = first 8 hex chars of md5 (h1's top 32
    // bits); simhash bit b is the sign of Σ(±1) over shingles.
    // Deterministic in both engines.
    Q("q43_simhash", {
      val sumCols = (0 until 32)
        .map(b => s"sum(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(",\n    ")
      val codeExpr = (0 until 32)
        .map(b => s"(CASE WHEN s$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE 0 END)")
        .mkString("\n    + ")
      s"""$ShingleCte,
         |hv AS (SELECT doc_id, (h1 >> 24) AS h FROM sh),
         |s AS (SELECT doc_id,
         |    $sumCols
         |  FROM hv GROUP BY doc_id)
         |SELECT doc_id,
         |    $codeExpr AS simhash
         |FROM s
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // Bit positions are exploded into rows rather than 32 aggregate
      // columns: a 32-wide agg makes Janino compile a ~70 s codegen blob;
      // two narrow hash aggregates plan instantly and shuffle |docs|×32
      // tiny rows. Same result as the oracle's per-column formulation.
      val sh = shingleRows(s, dir)
      val bits = sh.select(col("doc_id"), expr("shiftright(h1, 24)").as("h"))
        .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("b"))
        .select(col("doc_id"), col("b"),
          (expr("shiftright(h, b) & 1") * 2 - 1).as("sign"))
      bits.groupBy(col("doc_id"), col("b")).agg(sum(col("sign")).as("s"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
          .otherwise(lit(0L))).as("simhash"))
        .orderBy(col("doc_id"))
    },

    // ---- decontamination: n-gram overlap against a benchmark set ----
    // The eval-set contamination screen a training pipeline runs before
    // shipping a corpus: any training document sharing ≥1 shingle with a
    // benchmark document is flagged with its overlap count. The benchmark
    // stands in as every 50th doc (deterministic); the check is a
    // hash-keyed equi-join of train shingles against the (small) benchmark
    // shingle set — at scale the benchmark side broadcasts, so screening
    // is one map-side join pass over the corpus, no shuffle of the
    // training side.
    Q("q79_decontaminate", {
      s"""$ShingleCte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 50 = 0),
         |train AS (SELECT doc_id, h FROM hs WHERE doc_id % 50 <> 0)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM train t JOIN bench b ON t.h = b.h
         |GROUP BY t.doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val hs = shingleRows(s, dir).select(col("doc_id"), col("h1").as("h"))
      val bench = hs.filter(col("doc_id") % 50 === 0).select(col("h")).distinct()
      val train = hs.filter(col("doc_id") % 50 =!= 0)
      train.join(broadcast(bench), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_hits"))
        .orderBy(col("doc_id"))
    },

    // ---- near-dup clusters: connected components + canonical keeper ----
    // The collapse step after pair generation: q42's verified pairs are the
    // edges; each duplicate family becomes one cluster labeled by its min
    // doc_id (the keeper). The oracle computes the same components with a
    // recursive CTE (transitive closure, min label per doc) — Spark runs
    // distributed label propagation (see clusterPairs).
    Q("q72_neardup_clusters", {
      val cte = ShingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$cte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc)
         |SELECT c.doc AS doc_id, c.cluster_id,
         |  CAST(m.n AS BIGINT) AS cluster_size,
         |  (c.doc = c.cluster_id) AS is_keeper
         |FROM comp c
         |JOIN (SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id) m
         |  USING (cluster_id)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // jaccardPairs is memoized+persisted, so clusterPairs' two reads (one
      // per symmetric-closure branch) and a prior q42 run all share one
      // materialization of the overlap join. The CC engine is conf-gated
      // (pointer doubling default; graft.textdedup.ccAlgo=star for
      // star contraction) — identical output either way.
      clusterLabels(s, dir).orderBy(col("doc_id"))
    },

    // ---- cluster keeper selection under a quality policy ----
    // q72 labels clusters and keeps min-id; real curation keeps the BEST
    // member — here the longest (most-complete-version heuristic), ties
    // to the lower id — and accounts what the collapse deletes. Keeper =
    // argmax (n_words, −doc_id) via a lexicographic struct max (one hash
    // aggregate, associative — no window); tokens_dropped = Σ words of
    // the losers. Reuses q72's verified components and the memoized pair
    // frame; the oracle re-derives the same clusters with the recursive
    // CTE and states the same struct-max tiebreak.
    Q("q277_cluster_keeper", {
      val cte = ShingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$cte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |wc AS (SELECT doc_id,
         |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words
         |  FROM documents),
         |lab AS (SELECT c.doc AS doc_id, c.cluster_id, w.n_words
         |  FROM comp c JOIN wc w ON w.doc_id = c.doc)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
         |  CAST((max(struct_pack(w := n_words, d := -doc_id))).d * -1 AS BIGINT)
         |    AS keeper_id,
         |  CAST((max(struct_pack(w := n_words, d := -doc_id))).w AS BIGINT)
         |    AS keeper_words,
         |  CAST(sum(n_words) - (max(struct_pack(w := n_words, d := -doc_id))).w
         |    AS BIGINT) AS tokens_dropped
         |FROM lab GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin
    }) { (s, dir) =>
      val comp = clusterLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val wc = t(s, dir, "documents")
        .select(col("doc_id"), size(TextCommon.wordsCol).as("n_words"))
      val best = max(struct(col("n_words").as("w"), (-col("doc_id")).as("d")))
      comp.join(wc, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("long").as("cluster_size"),
          (best.getField("d") * -1).cast("long").as("keeper_id"),
          best.getField("w").cast("long").as("keeper_words"),
          (sum(col("n_words")) - best.getField("w")).cast("long")
            .as("tokens_dropped"))
        .orderBy(col("cluster_id"))
    },

    // ---- the dedup funnel: raw → exact → near-dup, with token costs ----
    // The one-table summary a curation run reports: how many documents
    // and tokens survive exact dedup (md5(text), keeper = min id — q40's
    // rule) and then near-dup collapse (q72's clusters over ALL docs;
    // keeper = the min SURVIVING member, so a cluster whose min-id member
    // was already exact-dropped still keeps one copy). Three rows, each
    // stage's doc/token counts and shares of raw. Everything reuses the
    // verified building blocks — fingerprints, the memoized pair frame,
    // the CC engine — plus one narrow token-count aggregate.
    Q("q283_dedup_funnel", {
      val cte = ShingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$cte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |tok AS (SELECT doc_id,
         |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
         |    md5(text) AS fp
         |  FROM documents),
         |ex AS (SELECT t.doc_id, t.n_words FROM tok t
         |  JOIN (SELECT fp, min(doc_id) AS keeper FROM tok GROUP BY fp) k
         |    ON t.fp = k.fp AND t.doc_id = k.keeper),
         |k2 AS (SELECT c.cluster_id, min(e.doc_id) AS keeper2
         |  FROM comp c JOIN ex e ON e.doc_id = c.doc GROUP BY 1),
         |nd AS (SELECT e.doc_id, e.n_words FROM ex e
         |  LEFT JOIN comp c ON c.doc = e.doc_id
         |  LEFT JOIN k2 ON k2.cluster_id = c.cluster_id
         |  WHERE c.doc IS NULL OR e.doc_id = k2.keeper2),
         |raw_ AS (SELECT count(*) AS d, sum(n_words) AS t FROM tok),
         |s1 AS (SELECT count(*) AS d, sum(n_words) AS t FROM ex),
         |s2 AS (SELECT count(*) AS d, sum(n_words) AS t FROM nd)
         |SELECT stage, CAST(d AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS n_tokens,
         |  round(CAST(d AS DOUBLE) / (SELECT d FROM raw_), 6) AS doc_share,
         |  round(CAST(t AS DOUBLE) / (SELECT t FROM raw_), 6) AS token_share
         |FROM (
         |  SELECT 0 AS stage, d, t FROM raw_
         |  UNION ALL SELECT 1, d, t FROM s1
         |  UNION ALL SELECT 2, d, t FROM s2) f
         |ORDER BY stage""".stripMargin
    }) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), size(TextCommon.wordsCol).as("n_words"),
          md5(col("text")).as("fp"))
      val comp = clusterLabels(s, dir)
        .select(col("doc_id").as("cdoc"), col("cluster_id"))
      funnelReport(tok, comp)
    },

    // ---- n-gram Jaccard under the doc-frequency skew cap ----
    // The q42 pipeline with the stop-shingle cap ACTIVE (maxDf=3) and the
    // identical filter in the oracle's CTE — so the skew-mitigation path
    // (the one a 100 TB run would enable to bound the quadratic hot-key
    // blowup) is itself oracle-checked, not just unit-tested. A shingle in
    // >3 docs carries no pair signal worth K(K−1)/2 join rows; dropping it
    // shrinks both intersection and union, so the jaccard values here
    // legitimately differ from q42's exact ones — both engines compute the
    // same capped statistic.
    Q("q100_jaccard_capped",
      s"""$ShingleCte,
         |keep AS (SELECT h1 FROM sh GROUP BY h1 HAVING count(*) <= 3),
         |hs AS (SELECT doc_id, h1 AS h FROM sh JOIN keep USING (h1)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val capped = capDocFrequency(shingleRows(s, dir), maxDf = 3, key = "h1")
      jaccardPairsFrom(capped.select(col("doc_id"), col("h1").as("h")))
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- blocked edit-distance near-dup (record-linkage blocking) ----
    // The edit-distance member of the fuzzy-dedup family (complements
    // set-similarity q41/q42/q100): candidate pairs come ONLY from
    // blocks keyed (lang, first word, second word), oversized blocks
    // (> 32 docs) are skipped entirely — the standard blocking-with-cap
    // recall tradeoff, and the cap is INSIDE the oracle so capped
    // answers stay checked answers (the q100 rule). Within a block,
    // pairwise Levenshtein runs on the 4-word prefix phrase only (a
    // bounded-length key, so each comparison is O(1) at any corpus
    // size); both engines implement classic unit-cost edit distance, so
    // the join is strict-checkable. At 100 TB: block count scales with
    // prefix cardinality (grows with a real corpus), per-block work is
    // ≤ cap², and the shuffle carries (bucket, doc_id, prefix) — never
    // document text.
    Q("q180_edit_blocked",
      raw"""WITH p AS (SELECT doc_id, lang,
           |    array_to_string((string_split_regex(lower(trim(text)), '\s+'))[1:4], ' ') AS pre,
           |    (string_split_regex(lower(trim(text)), '\s+'))[1] AS w1,
           |    (string_split_regex(lower(trim(text)), '\s+'))[2] AS w2
           |  FROM documents),
           |sz AS (SELECT lang, w1, w2 FROM p
           |  GROUP BY lang, w1, w2 HAVING count(*) <= 32),
           |ok AS (SELECT p.* FROM p JOIN sz USING (lang, w1, w2))
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
           |FROM ok a JOIN ok b ON a.lang = b.lang AND a.w1 = b.w1
           |  AND a.w2 = b.w2 AND a.doc_id < b.doc_id
           |WHERE levenshtein(a.pre, b.pre) <= 6
           |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      editBlockedPairs(graft.schema.Tables.t(s, dir, "documents"), cap = 32)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
        .filter(col("dist") <= 6)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q341: LSH S-curve audit ----
    // The dial-tuning report behind q41's (bands × rows) choice: every
    // split of the SAME k=8 signature — (8,1), (4,2), (2,4), (1,8) —
    // re-banded and run through the identical band equi-join, each
    // config reporting measured candidates / recall / precision against
    // the exact-Jaccard truth (s ≥ 0.5) NEXT TO the theory: the
    // S-curve's predicted mean capture E[1−(1−sʳ)ᵇ] over the truth
    // pairs and the 50%-capture similarity s₅₀ = (1/b)^(1/r). Because
    // the band boundaries of the splits ALIGN (r=8 bands are unions of
    // r=4 bands, and so on), agreement on a longer band implies
    // agreement on its sub-bands — so the candidate sets are NESTED,
    // C(1,8) ⊆ C(2,4) ⊆ C(4,2) ⊆ C(8,1), and measured recall/candidate
    // counts are monotone by construction (pinned in LshScurveSpec).
    // Numeric parity: sʳ and (1−sʳ)ᵇ are repeated MULTIPLICATION in
    // both engines (never float pow — left-associated products are
    // IEEE-identical), per-pair capture quantizes to DECIMAL(18,9)
    // before the mean's sum (the q281/q317 fold rule), and s₅₀ is a
    // Scala-computed literal embedded in both texts. Scale: each
    // config's candidate join is q41's bounded band equi-join over the
    // ONE cached signature (nested sets — no all-pairs anywhere); the
    // exact side is the verify join the family already pays, and at
    // 100 TB this audit runs on a sample slice to pick the dial before
    // the full corpus pays for it (the SCALE.md mining-ladder
    // discipline).
    Q("q341_lsh_scurve", {
      val sigCols = (0 until NumHashes)
        .map(i => s"min((h1 + $i * h2) % 2305843009213693951) AS s$i")
        .mkString(",\n    ")
      def cfgSql(b: Int, r: Int): String = {
        val bands = (0 until b).map { j =>
          val key = (j * r until (j + 1) * r)
            .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || '|' || ")
          s"SELECT doc_id, $j AS band, $key AS bkey FROM sig"
        }.mkString("\n    UNION ALL ")
        val sr = "(" + Seq.fill(r)("s").mkString(" * ") + ")"
        val cap = "1.0 - " + Seq.fill(b)(s"(1.0 - $sr)").mkString(" * ")
        s"""c${b}b AS (
           |    $bands),
           |c${b}p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM c${b}b x JOIN c${b}b y
           |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
           |c${b}a AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           |    CAST(coalesce(sum(CASE WHEN coalesce(j.s, 0.0) >= 0.5
           |      THEN 1 END), 0) AS BIGINT) AS n_true_cand
           |  FROM c${b}p c LEFT JOIN jac j
           |    ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b),
           |c${b}e AS (SELECT sum(CAST(round($cap, 9) AS DECIMAL(18,9))) AS ps
           |  FROM truth)""".stripMargin
      }
      def cfgSel(b: Int, r: Int): String =
        s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS band_rows,
           |  n_candidates, n_true_cand, t AS n_truth,
           |  round(n_true_cand * 1.0 / t, 6) AS recall,
           |  CASE WHEN n_candidates > 0
           |    THEN round(n_true_cand * 1.0 / n_candidates, 6)
           |    ELSE CAST(0.0 AS DOUBLE) END AS prec,
           |  round(CAST(ps AS DOUBLE) / t, 6) AS pred_capture,
           |  CAST(${scurveS50(b, r)} AS DOUBLE) AS s50
           |FROM c${b}a, tcnt, c${b}e""".stripMargin
      s"""$ShingleCte,
         |sig AS (SELECT doc_id,
         |    $sigCols
         |  FROM sh GROUP BY doc_id),
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |jac AS (SELECT doc_a, doc_b, i * 1.0 / (sa.n + sb.n - i) AS s
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id),
         |truth AS (SELECT s FROM jac WHERE s >= 0.5),
         |tcnt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM truth),
         |${ScurveConfigs.map((cfgSql _).tupled).mkString(",\n")}
         |${ScurveConfigs.map((cfgSel _).tupled).mkString("\nUNION ALL\n")}
         |ORDER BY n_bands""".stripMargin
    }) { (s, dir) =>
      val capKey = s.conf.getOption("graft.textdedup.maxShingleDf").getOrElse("off")
      val sig = CacheRegistry.cache(s, s"q341-sig:$dir:cap=$capKey:k=$NumHashes") {
        signatureFrame(cappedShingleRows(s, dir), NumHashes)
      }
      // unthresholded exact Jaccard over every overlapping pair — the
      // verify frame WITHOUT q42's ≥0.5 cut, so candidate precision can
      // see the sub-threshold pairs each config lets through
      val jacAll = CacheRegistry.cache(s, s"q341-jacall:$dir:cap=$capKey") {
        val hs = cappedShingleRows(s, dir)
          .select(col("doc_id"), col("h1").as("h"))
        val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        interCounts(hs)
          .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            (col("i") * lit(1.0) / (col("sa.n") + col("sb.n") - col("i")))
              .as("s"))
      }
      val truth = jacAll.filter(col("s") >= 0.5)
      val tcnt = truth.agg(count(lit(1)).cast("long").as("t"))
      val rows = ScurveConfigs.map { case (b, r) =>
        val cand = bandCandidates(rebandedRows(sig, b, r))
        val agg = cand.join(jacAll, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).cast("long").as("n_candidates"),
            coalesce(sum(when(coalesce(col("s"), lit(0.0)) >= 0.5, 1L)),
              lit(0L)).cast("long").as("n_true_cand"))
        val srCol = (1 until r).foldLeft(col("s")) { (a, _) => a * col("s") }
        val failCol = (1 until b)
          .foldLeft(lit(1.0) - srCol) { (a, _) => a * (lit(1.0) - srCol) }
        val pred = truth.agg(
          sum(round(lit(1.0) - failCol, 9).cast("decimal(18,9)")).as("ps"))
        agg.crossJoin(broadcast(tcnt)).crossJoin(broadcast(pred))
          .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("band_rows"),
            col("n_candidates"), col("n_true_cand"), col("t").as("n_truth"),
            round(col("n_true_cand") * lit(1.0) / col("t"), 6).as("recall"),
            when(col("n_candidates") > 0,
              round(col("n_true_cand") * lit(1.0) / col("n_candidates"), 6))
              .otherwise(lit(0.0)).as("prec"),
            round(col("ps").cast("double") / col("t"), 6).as("pred_capture"),
            lit(scurveS50(b, r)).as("s50"))
      }
      rows.reduce(_ union _).orderBy(col("n_bands"))
    }
  )

  /** q341's (bands × rows) splits of the k=8 signature, widest first.
    * (A def, not a val — `qs` evaluates it during object init, before a
    * later-declared val would be assigned.) */
  private def ScurveConfigs: Seq[(Int, Int)] =
    Seq((8, 1), (4, 2), (2, 4), (1, 8))

  /** The S-curve's 50%-capture similarity (1/b)^(1/r), rounded at 6 dp
    * in SCALA and embedded as the same literal in both engine texts —
    * the one place q341 touches float pow, kept out of both plans. */
  private def scurveS50(b: Int, r: Int): Double =
    BigDecimal(math.pow(1.0 / b, 1.0 / r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** q180's candidate generator, reusable by ScaleBench: block docs on
    * (lang, first word, second word), drop blocks larger than `cap`
    * (cap ≤ 0 disables the cap — the measured-contrast control), and emit
    * the intra-block (doc_a < doc_b) pairs with both 4-word prefix
    * phrases attached. Levenshtein thresholding is the caller's. */
  def editBlockedPairs(docs: DataFrame, cap: Int): DataFrame = {
    val p = docs
      .select(col("doc_id"), col("lang"), TextCommon.wordsCol.as("ws"))
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", slice(col("ws"), 1, 4)).as("pre"),
        col("ws").getItem(0).as("w1"), col("ws").getItem(1).as("w2"))
    val ok = if (cap <= 0) p else {
      val keep = p.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c")).filter(col("c") <= cap)
        .drop("c")
      p.join(keep, Seq("lang", "w1", "w2"))
    }
    val a = ok.select(col("lang"), col("w1"), col("w2"),
      col("doc_id").as("doc_a"), col("pre").as("pa"))
    val b = ok.select(col("lang"), col("w1"), col("w2"),
      col("doc_id").as("doc_b"), col("pre").as("pb"))
    a.join(b, Seq("lang", "w1", "w2"))
      .filter(col("doc_a") < col("doc_b"))
  }
}
