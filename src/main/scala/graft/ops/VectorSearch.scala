package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Q
import graft.ops.Loops._
import graft.schema.Tables.t

/** Similarity search over the embedding column (LLM-pipeline ANN surface).
  *
  * q44 is the exact baseline: brute-force cosine against one query vector —
  * a broadcast of the query + a single codegen'd pass over the corpus, the
  * plan you want at any scale when k is small (TakeOrderedAndProject keeps
  * only k rows per partition).
  *
  * q45 is the scale path: random-hyperplane LSH. Every vector gets a small
  * signed-projection bucket code; search only compares within the query's
  * bucket. The hyperplanes are derived deterministically from md5 so the
  * DuckDB oracle reproduces them bit-for-bit — the "approximate" index is
  * still exactly checkable. At 100 TB you'd repartition by bucket code so
  * each probe touches one partition (plus neighboring codes for recall).
  */
object VectorSearch {

  private val Dim = 64
  private[ops] val NumPlanes = 6 // 64 buckets over the corpus

  /** First `n` deterministic pseudo-random hyperplanes from md5 (public,
    * stable; any prefix of the infinite family — ScaleBench widens the
    * code space with the corpus by asking for more planes). */
  private[ops] def planesUpTo(n: Int): Array[Array[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n, Dim) { (j, i) =>
      val hex = mdig.digest(s"$j:$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      math.rint((Integer.parseInt(hex, 16) / 65535.0 - 0.5) * 1e6) / 1e6
    }
  }

  /** Deterministic pseudo-random hyperplanes from md5 (public, stable). */
  private lazy val planes: Array[Array[Double]] = planesUpTo(NumPlanes)

  /** dot(embedding, other-array-column) in double, sequential fold — the
    * same order DuckDB's list_sum uses, so results match to the last bit.
    * Runs through the native [[graft.functions.ArrayDot]] expression
    * (codegen'd straight-line loop; bit-identical to the HOF composition
    * it replaced — ArrayDotSpec asserts the equivalence element-wise). */
  private[ops] def dotExpr(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  private[ops] def normExpr(a: String): Column = sqrt(expr(s"graft_dot($a, $a)"))

  /** The embeddings scan with the session's native functions registered
    * (idempotent) — every vector query path needs `graft_dot` resolvable
    * in bare driver sessions that don't load GraftExtensions. */
  private[ops] def embTable(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings")
  }

  private[ops] val DuckCos: String =
    """list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(range(1, len(qe) + 1),
      |      i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))))""".stripMargin

  private[ops] def duckPlaneList(j: Int): String =
    // Locale.ROOT: default-locale %f renders a decimal comma on some
    // hosts, which would corrupt the generated DuckDB SQL literal.
    planes(j).map(v => String.format(java.util.Locale.ROOT, "%.6f", Double.box(v)))
      .mkString("[", ", ", "]")

  private[ops] def duckDot(vec: String, planeList: String): String =
    s"list_sum(list_transform(range(1, len($vec) + 1), i -> CAST($vec[i] AS DOUBLE) * ($planeList)[i]))"

  private[ops] def sparkPlaneArray(j: Int): Column =
    array(planes(j).toIndexedSeq.map(v => lit(v)): _*)

  private[ops] def sparkCode(vecCol: String): Column =
    (0 until NumPlanes).map { j =>
      when(dotExpr(vecCol, s"__p$j") > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Corpus-level embedding standardization through the Arrow columnar
    * seam: every component z-scored against the corpus mean/std — the
    * feature-normalization pass that precedes clustering or quantization.
    * Two scalars come from one aggregate (a bounded driver collect), then
    * [[ArrowColumnar.zscore]] runs the normalization as a tight columnar
    * kernel per batch — the seam a SIMD/native implementation would plug
    * into. Output: (vec_id, pos, comp, z), one row per component. */
  def componentZscores(s: org.apache.spark.sql.SparkSession, dir: String,
      batchSize: Int = 4096): org.apache.spark.sql.DataFrame = {
    val comps = embTable(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        col("col").cast("double").as("comp"))
    val stats = comps.agg(avg(col("comp")).as("m"), stddev_samp(col("comp")).as("sd")).head()
    // avg of zero rows / stddev_samp of one row are NULL — fail with the
    // real reason, not an NPE out of getDouble
    require(!stats.isNullAt(0) && !stats.isNullAt(1),
      "componentZscores needs at least 2 component rows (empty or degenerate corpus)")
    ArrowColumnar.zscore(comps, "comp", "z", stats.getDouble(0), stats.getDouble(1), batchSize)
  }

  /** Multi-probe LSH candidates for query vec 0 at Hamming radius 0/1/2 —
    * radius 0 is q45's single probe (1 code), radius 1 is q106's probe set
    * (1 + NumPlanes codes), radius 2 adds the C(NumPlanes, 2) double
    * flips (22 codes at 6 planes). Whatever the radius, candidate
    * generation stays a broadcast equi-join on the bucket code — the
    * probe list only widens the broadcast side — so the shuffle shape is
    * identical and the recall/candidate trade is a pure knob
    * (graft.ScaleBench charts it in SCALE.md). Returns the UNRANKED
    * (vec_id, cos_sim) candidate frame: callers count it for candidate
    * growth or top-k it for recall. */
  def multiProbe(s: org.apache.spark.sql.SparkSession, dir: String,
      radius: Int): org.apache.spark.sql.DataFrame = {
    require(radius >= 0 && radius <= 2, s"radius must be 0, 1, or 2; got $radius")
    val emb = embTable(s, dir)
    val withPlanes = (0 until NumPlanes).foldLeft(emb) { (df, j) =>
      df.withColumn(s"__p$j", sparkPlaneArray(j))
    }
    val coded = withPlanes
      .select(col("vec_id"), col("embedding"), sparkCode("embedding").as("code"))
    val flips1 = (0 until NumPlanes).map(j => col("qcode").bitwiseXOR(lit(1 << j)))
    val flips2 = for {
      a <- 0 until NumPlanes
      b <- a + 1 until NumPlanes
    } yield col("qcode").bitwiseXOR(lit((1 << a) | (1 << b)))
    val probeExprs = (col("qcode") +: (radius match {
      case 0 => Seq.empty[Column]
      case 1 => flips1
      case 2 => flips1 ++ flips2
    })).map(_.cast("int"))
    val probes = coded.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("code").as("qcode"))
      .select(col("qe"), explode(array(probeExprs: _*)).as("probe"))
    coded.filter(col("vec_id") =!= 0)
      .join(broadcast(probes), col("code") === col("probe"))
      .select(col("vec_id"),
        round(dotExpr("embedding", "qe") / (normExpr("embedding") * normExpr("qe")), 6)
          .as("cos_sim"))
  }

  /** Probe-list size at a given radius: 1, 1+d, 1+d+C(d,2). */
  def probeCount(radius: Int): Int = radius match {
    case 0 => 1
    case 1 => 1 + NumPlanes
    case 2 => 1 + NumPlanes + NumPlanes * (NumPlanes - 1) / 2
  }

  /** SemDeDup target cluster size: seeds = ceil(N / this), so expected
    * cluster size stays ~constant as the corpus grows and the
    * within-cluster pair count is O(N · target), never O(N²/k). */
  private[graft] val SemDedupTarget = 100

  /** q113's engine, reusable with a corpus bound so ScaleBench can measure
    * candidate growth at controlled vector counts. k-means-style assignment
    * to k = ceil(N/[[SemDedupTarget]]) deterministic seeds (one broadcast
    * row carrying the seed array, map-only 9dp-rounded argmax — q110's
    * shape), then within-cluster pair generation as an equi-join on
    * seed_id (k distinct values, growing with N), the pair cosine
    * projected ONCE as a 9dp-rounded column, and the τ threshold folded
    * into the aggregate so the HOF is never re-evaluated. Returns the
    * UNSORTED pruned frame (pruned_id, cluster_id, max_cos, dup_of). */
  def semanticDedup(s: org.apache.spark.sql.SparkSession, dir: String,
      maxVecs: Option[Long] = None): org.apache.spark.sql.DataFrame =
    semanticDedupPrune(semAssigned(s, dir, maxVecs))

  /** Assignment of ANY (vec_id, embedding) frame against a FIXED
    * (seed_id, se) seed table — the map-side stage of the SemDeDup family,
    * factored out (like [[TextDedup.shingleRowsFor]]) because a vector's
    * assignment depends only on its own embedding and the seed table:
    * per-micro-batch output against a pinned seed table is identical to
    * the batch-global one, which is what lets the incremental composition
    * (StreamingSemDedupSpec) land assignments per batch and report over
    * the accumulated store. HOF-cost discipline: the vector's norm is
    * hoisted to ONE column per row, each seed's norm is precomputed inside
    * the single broadcast row, and the per-(row, seed) work is one native
    * `graft_dot`. Output: (vec_id, emb, nrm, seed_id). */
  def assignToSeeds(vecs: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val seedRow = seeds
      .select(col("seed_id"), col("se"), normExpr("se").as("ns"))
      .agg(array_sort(collect_list(struct(col("seed_id"), col("se"), col("ns"))))
        .as("seeds"))
    val cosInSeed = "round(graft_dot(emb, s.se) / (nrm * s.ns), 9)"
    vecs.select(col("vec_id"), col("embedding").as("emb"),
        normExpr("embedding").as("nrm"))
      .crossJoin(broadcast(seedRow))
      .select(col("vec_id"), col("emb"), col("nrm"), expr(
        s"""array_max(transform(seeds,
           |  s -> struct($cosInSeed AS cos, -s.seed_id AS negseed)))""".stripMargin)
        .as("b"))
      .select(col("vec_id"), col("emb"), col("nrm"), (-col("b.negseed")).as("seed_id"))
  }

  /** The SemDeDup prune over ANY assignment frame (vec_id, emb, nrm,
    * seed_id) — within-cluster pair generation as an equi-join on seed_id,
    * the pair cosine projected ONCE as a 9dp-rounded column, and the
    * τ=0.4 threshold folded into the aggregate so the dot is never
    * re-evaluated. Works identically over one batch's assignment or the
    * union of incrementally-accumulated ones. Returns the UNSORTED
    * (pruned_id, cluster_id, max_cos, dup_of) frame. */
  def semanticDedupPrune(assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    // one codegen'd dot per pair; the norms ride along from the assignment
    val pairCos = expr("graft_dot(x.emb, y.emb)") / (col("x.nrm") * col("y.nrm"))
    val pairs = assigned.as("x").join(assigned.as("y"),
        col("x.seed_id") === col("y.seed_id") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("pruned_id"), col("y.seed_id").as("cluster_id"),
        col("x.vec_id").as("xid"), round(pairCos, 9).as("pc"))
    pairs.groupBy(col("pruned_id"), col("cluster_id"))
      .agg(max(col("pc")).as("mx"),
        min(when(col("pc") >= 0.4, col("xid"))).as("dup_of"))
      .filter(col("mx") >= 0.4)
      .select(col("pruned_id"), col("cluster_id"),
        round(col("mx"), 6).as("max_cos"), col("dup_of"))
  }

  /** Two-level hierarchical assignment — the scale path for the dense
    * argmax's O(N·k) ceiling (SCALE.md "Semantic dedup"). Level 1 groups
    * the seed table GEOMETRICALLY: every seed is argmax-assigned to the
    * nearest of the first g = ceil(k/fanout) seeds (the same 9dp-rounded
    * cosine rule, on the tiny seed table itself). Level 2: each vector
    * picks its super-seed (g dots), then argmaxes only over that super's
    * member seeds (~fanout dots) — O(N·(g + fanout)) ≈ O(N·2√k) at
    * fanout ≈ √k instead of O(N·k), still ONE broadcast row and one
    * map-only pass. Deterministic at every step (9dp rounding, smaller-id
    * tie-breaks), so the full two-level rule is oracle-checkable (q123).
    * Approximate by design: a vector whose true nearest seed lives in a
    * super it didn't pick gets a locally-best seed — HierarchicalSpec
    * proves exact equality when fanout ≥ k (one super ⇒ dense argmax) and
    * ScaleBench measures dense-agreement on the clustered corpus.
    * Output: (vec_id, emb, nrm, seed_id) — assignment-compatible with
    * [[semanticDedupPrune]]. */
  def hierarchicalAssign(vecs: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame, fanout: Int)
      : org.apache.spark.sql.DataFrame = {
    require(fanout >= 1, "fanout must be >= 1")
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val k = seeds.count() // bounded: the seed table is small by design
    val g = math.max(1L, (k + fanout - 1) / fanout)
    val withN = seeds.select(col("seed_id"), col("se"), normExpr("se").as("ns"))
    val sup = withN.orderBy(col("seed_id")).limit(g.toInt)
      .select(col("seed_id").as("super_id"), col("se").as("pe"), col("ns").as("pn"))
    val supRow = sup
      .agg(array_sort(collect_list(struct(col("super_id"), col("pe"), col("pn"))))
        .as("sup"))
    // seed → super: the same broadcast-argmax trick on the k-row seed table.
    // A super's OWN seed is forced into its own group (coalesce against the
    // g-row super list): its self-cosine is 1.0, so only a 9dp-rounded tie
    // with a lower-id super could steal it — and a stolen super would have
    // an EMPTY member list, silently dropping every vector whose level-1
    // argmax picked it (the level-2 join is inner). The oracle applies the
    // identical override.
    val seedLab = withN.crossJoin(broadcast(supRow))
      .select(col("seed_id"), col("se"), col("ns"), expr(
        """array_max(transform(sup, p -> struct(
          |  round(graft_dot(se, p.pe) / (ns * p.pn), 9) AS cos,
          |  -p.super_id AS negid)))""".stripMargin).as("b"))
      .join(broadcast(sup.select(col("super_id").as("__self"))),
        col("seed_id") === col("__self"), "left")
      .select(col("seed_id"), col("se"), col("ns"),
        coalesce(col("__self"), -col("b.negid")).as("super_id"))
    // level 1: argmax over the g-super array (carried through exactly one
    // projection and dropped there — an earlier draft nested the member
    // arrays INSIDE this broadcast struct and copied the whole seed table
    // through every row's output buffer, which cost more than the dots it
    // saved; ScaleBench's assign_hier phases are the receipt)
    val level1 = vecs.select(col("vec_id"), col("embedding").as("emb"),
        normExpr("embedding").as("nrm"))
      .crossJoin(broadcast(supRow))
      .select(col("vec_id"), col("emb"), col("nrm"), expr(
        """array_max(transform(sup, p -> struct(
          |  round(graft_dot(emb, p.pe) / (nrm * p.pn), 9) AS cos,
          |  -p.super_id AS negid)))""".stripMargin).as("b1"))
      .select(col("vec_id"), col("emb"), col("nrm"), (-col("b1.negid")).as("super_id"))
    // level 2: the chosen super's member seeds attach via a broadcast
    // equi-join (g build rows, ~fanout members each), then the member argmax
    val memberTable = seedLab.groupBy(col("super_id"))
      .agg(array_sort(collect_list(struct(col("seed_id"), col("se"), col("ns"))))
        .as("members"))
    level1.join(broadcast(memberTable), Seq("super_id"))
      .select(col("vec_id"), col("emb"), col("nrm"), expr(
        """array_max(transform(members, m -> struct(
          |  round(graft_dot(emb, m.se) / (nrm * m.ns), 9) AS cos,
          |  -m.seed_id AS negseed)))""".stripMargin).as("b2"))
      .select(col("vec_id"), col("emb"), col("nrm"),
        (-col("b2.negseed")).as("seed_id"), col("b2.cos").as("cos"))
  }

  /** Shared q113 assignment: k = ceil(N/[[SemDedupTarget]]) seeds (k now
    * scaling with the corpus — one bounded driver count, the same
    * dynamic-subquery shape the DuckDB oracle uses) fed to
    * [[assignToSeeds]]. Persisted via [[CacheRegistry]]: the pair stage
    * reads it from BOTH sides of a self-join. */
  private def semAssigned(s: org.apache.spark.sql.SparkSession, dir: String,
      maxVecs: Option[Long]): org.apache.spark.sql.DataFrame =
    // the conf-gated engine is part of the cache identity: toggling
    // assignAlgo mid-session must not return the other engine's frame
    CacheRegistry.cache(s, s"q113-assigned:$dir:${maxVecs.getOrElse("all")}" +
        s":${s.conf.getOption("graft.vectorsearch.assignAlgo").getOrElse("dense")}") {
      val emb0 = embTable(s, dir)
      val emb = maxVecs.fold(emb0)(m => emb0.filter(col("vec_id") < m))
      val k = math.max(1L, math.ceil(emb.count() / SemDedupTarget.toDouble).toLong)
      val seeds = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("seed_id"), col("embedding").as("se"))
      // conf-gated assignment engine (the ccAlgo pattern): OFF by default
      // so q113 stays exact-oracle-checked with the dense argmax; at
      // k ∝ N scale, `graft.vectorsearch.assignAlgo=hier` swaps in the
      // q123 two-level pass (O(N·2√k) dots instead of O(N·k); both levels
      // oracle-proven in q123, dense-agreement measured in SCALE.md —
      // cluster boundaries move for near-equidistant vectors, dup/non-dup
      // decisions within clusters do not)
      s.conf.getOption("graft.vectorsearch.assignAlgo") match {
        case Some("hier") =>
          hierarchicalAssign(emb, seeds,
            fanout = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt))
            .drop("cos")
        case _ => assignToSeeds(emb, seeds)
      }
    }

  /** Within-cluster candidate-pair count under the q113 clustering — the
    * quantity whose growth ScaleBench charts (linear when k ∝ N). Counted
    * as Σ C(|cluster|, 2) from cluster sizes: no join needed to measure
    * the candidate set the join would generate. */
  def semanticDedupCandidates(s: org.apache.spark.sql.SparkSession, dir: String,
      maxVecs: Option[Long] = None): Long = {
    val r = semAssigned(s, dir, maxVecs).drop("emb")
      .groupBy(col("seed_id")).agg(count(lit(1)).as("n"))
      // DIV: Column./ is double division; n(n-1) is even so DIV 2 is exact
      .agg(sum(expr("n * (n - 1) DIV 2"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Full Lloyd's k-means loop: q110's broadcast-argmax assignment step
    * composed with q73's exact-DECIMAL centroid rebuild, iterated to
    * convergence or `maxRounds`. Loop hygiene follows clusterPairs/bpeTrain:
    * each round's assignment is `localCheckpoint`ed (truncates the plan —
    * an unbounded expression tree is a driver cost before execution) and
    * convergence is one bounded count over the checkpointed frames (did any
    * vector change cluster?). Per round at 100 TB: one broadcast of the
    * k-row centroid table, one map-only assignment pass, one narrow
    * (k × dim)-group aggregate for the rebuild — no shuffle ever carries
    * the corpus beyond the |k·dim| partial sums. Floating parity: per-seed
    * cosine rounded to 9dp before the argmax, centroid components rebuilt
    * through DECIMAL(38,12) sums (order-independent) and rounded to 6dp —
    * identical doubles ⇒ identical winners in both engines, which is what
    * lets a 2-round run be strict-oracle-checked (q120).
    * Returns (per-vector assignment (vec_id, seed_id, cos), rounds run,
    * converged flag). */
  def kmeansLloyd(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, maxRounds: Int): (org.apache.spark.sql.DataFrame, Int, Boolean) =
    kmeansLloydFrom(embTable(s, dir), k, maxRounds)

  /** [[kmeansLloyd]] over any (vec_id, embedding) frame — dimension-
    * agnostic (the rebuild works positionally), so specs can drive the
    * loop on small synthetic geometries with known convergence.
    * `initCentroids` (seed_id, ce: ARRAY<DOUBLE>) WARM-STARTS the loop —
    * the incremental-maintenance hook, mirroring pagerankUntil: after a
    * batch of arrivals the previous converged centroids are a far closer
    * starting state than the vec_id < k seeds, so the loop spends only
    * the rounds the perturbation needs (StreamingKMeansSpec measures
    * strictly fewer rounds to the same fixed point). */
  def kmeansLloydFrom(embIn: org.apache.spark.sql.DataFrame,
      k: Int, maxRounds: Int,
      initCentroids: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, Int, Boolean) = {
    require(k >= 1 && maxRounds >= 1, s"need k >= 1 and maxRounds >= 1")
    graft.functions.GraftFunctions.register(embIn.sparkSession)
    val emb = embIn.select(col("vec_id"), col("embedding"))
    // round-0 centroids: the embeddings of vec_id < k, cast to DOUBLE
    // (float32 values are exactly representable — no rounding needed) —
    // or the caller's previous converged centroid table. A warm-start
    // table DEFINES the cluster count, so it must agree with k: silently
    // running 10 clusters of a k=20 request (or zero, which would yield
    // null assignments from the empty-seeds argmax) is the bug this guard
    // exists for; the count is bounded (centroid tables are k rows).
    val centroids0 = initCentroids.map { c =>
      val n = c.count()
      require(n >= 1 && n <= k,
        s"warm-start centroid table has $n rows; expected 1..$k")
      c
    }
    var centroids = centroids0.getOrElse(emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("seed_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce")))
    val cosInSeed =
      """round(graft_dot(embedding, s.ce)
        |  / (sqrt(graft_dot(embedding, embedding))
        |   * sqrt(graft_dot(s.ce, s.ce))), 9)""".stripMargin
    var assigned: org.apache.spark.sql.DataFrame = null
    var rounds = 0
    var converged = false
    // chain scope: the convergence join and centroid rebuild read round
    // k−1 after round k pins — both stay inside the scope's keep-2 window
    val ps = Loops.scope(embIn.sparkSession)
    while (rounds < maxRounds && !converged) {
      val seedRow = centroids
        .agg(array_sort(collect_list(struct(col("seed_id"), col("ce")))).as("seeds"))
      val next = emb.crossJoin(broadcast(seedRow))
        .select(col("vec_id"), col("embedding"), expr(
          s"""array_max(transform(seeds,
             |  s -> struct($cosInSeed AS cos, -s.seed_id AS negseed)))""".stripMargin)
          .as("b"))
        .select(col("vec_id"), col("embedding"),
          (-col("b.negseed")).as("seed_id"), col("b.cos").as("cos"))
        .pin(ps)
      converged = assigned != null && next.as("n")
        .join(assigned.as("p"), "vec_id")
        .filter(col("n.seed_id") =!= col("p.seed_id")).isEmpty
      assigned = next
      rounds += 1
      if (!converged && rounds < maxRounds) {
        centroids = centroidRebuild(assigned)
      }
    }
    (assigned.select(col("vec_id"), col("seed_id"), round(col("cos"), 6).as("cos")),
      rounds, converged)
  }

  /** q73's centroid rebuild over a (seed_id, embedding) assignment frame:
    * per-(cluster, dim) exact DECIMAL mean, 6dp-rounded, reassembled into
    * a (seed_id, ce) centroid table. The refresh step of the Lloyd's loop
    * AND of the streaming composition (StreamingKMeansSpec: assign
    * per-batch against pinned centroids, rebuild periodically from the
    * accumulated store — recluster-periodically/assign-continuously).
    * Order-independent by construction, so the rebuild over an
    * accumulated idempotent store equals the batch rebuild. */
  def centroidRebuild(assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    assigned
      .select(col("seed_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("seed_id"), col("pos"))
      .agg(round(sum(col("v").cast("double").cast("decimal(38,12)"))
        .cast("double") / count(lit(1)), 6).as("c"))
      .groupBy(col("seed_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("ce"))

  val qs: Seq[Q] = Seq(

    // ---- exact brute-force cosine top-k ----
    Q("q44_cosine_topk",
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(
         |  $DuckCos, 6) AS cos_sim
         |FROM embeddings, q
         |WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = embTable(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(dotExpr("embedding", "qe") / (normExpr("embedding") * normExpr("qe")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ---- LSH-bucketed approximate nearest neighbors ----
    // Same-bucket candidates for query vec 0, ranked by exact cosine.
    Q("q45_ann_lsh", {
      val planeCols = (0 until NumPlanes)
        .map(j => s"${duckPlaneList(j)} AS p$j").mkString(",\n    ")
      def codeSql(vec: String) = (0 until NumPlanes)
        .map(j => s"(CASE WHEN ${duckDot(vec, s"p$j")} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH p AS (SELECT
         |    $planeCols),
         |coded AS (SELECT vec_id, embedding, ${codeSql("embedding")} AS code
         |  FROM embeddings, p),
         |q AS (SELECT embedding AS qe, code AS qcode FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(
         |  $DuckCos, 6) AS cos_sim
         |FROM coded, q
         |WHERE vec_id <> 0 AND code = qcode
         |ORDER BY cos_sim DESC, vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val withPlanes = (0 until NumPlanes).foldLeft(emb) { (df, j) =>
        df.withColumn(s"__p$j", sparkPlaneArray(j))
      }
      val coded = withPlanes
        .select(col("vec_id"), col("embedding"), sparkCode("embedding").as("code"))
      val q = coded.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("code").as("qcode"))
      coded.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .filter(col("code") === col("qcode"))
        .select(col("vec_id"),
          round(dotExpr("embedding", "qe") / (normExpr("embedding") * normExpr("qe")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    },

    // ---- IVF-style ANN: coarse quantizer = per-label centroids ----
    // Build phase: one narrow aggregate produces the centroid table (tiny).
    // Probe phase: rank centroids against the query, search only the
    // nearest list — at 100 TB, repartition the corpus by list id and a
    // probe is a single-partition scan (plus nprobe neighbors for recall).
    // Centroid components round to 6dp so both engines' avg() agree.
    Q("q59_ann_ivf", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pos AS (SELECT label, generate_subscripts(embedding, 1) AS i,
         |               CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
         |cent AS (SELECT label, list(round(avg_v, 6) ORDER BY i) AS centroid
         |         FROM (SELECT label, i, avg(val) AS avg_v FROM pos GROUP BY label, i)
         |         GROUP BY label),
         |nearest AS (SELECT label FROM cent, q
         |            ORDER BY ${cosSql("centroid", "qe")} DESC, label LIMIT 1)
         |SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos_sim
         |FROM embeddings e, q, nearest n
         |WHERE e.label = n.label AND vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 5""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val centroids = emb
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col").cast("double")).as("v"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), round(col("v"), 6).as("v"))))
          .as("pv"))
        .select(col("label"), expr("transform(pv, x -> x.v)").as("centroid"))
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val nearest = centroids.crossJoin(broadcast(q))
        .select(col("label"),
          (dotExpr("centroid", "qe") / (normExpr("centroid") * normExpr("qe"))).as("ccos"))
        .orderBy(col("ccos").desc, col("label"))
        .limit(1)
        .select(col("label"))
      emb.filter(col("vec_id") =!= 0)
        .join(broadcast(nearest), Seq("label"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(dotExpr("embedding", "qe") / (normExpr("embedding") * normExpr("qe")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    },

    // ---- multi-probe LSH ANN: query bucket + Hamming-1 neighbors ----
    // The recall knob single-probe LSH lacks (ScaleBench measured q45 at
    // 0.5–0.7 recall@10 on planted clusters): a true neighbor differing
    // from the query in ONE hyperplane sign lands in a code one bit away,
    // so probing the query's code plus its NumPlanes Hamming-1 neighbors
    // multiplies candidates by ≤ (1 + planes) while staying an equi-join
    // on the code — same shuffle shape, no cross join. Top-10 by exact
    // cosine over the probed union, TakeOrderedAndProject.
    Q("q106_ann_multiprobe", {
      val planeCols = (0 until NumPlanes)
        .map(j => s"${duckPlaneList(j)} AS p$j").mkString(",\n    ")
      def codeSql(vec: String) = (0 until NumPlanes)
        .map(j => s"(CASE WHEN ${duckDot(vec, s"p$j")} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      val probeList = ("qcode" +: (0 until NumPlanes)
        .map(j => s"xor(qcode, ${1 << j})")).mkString("[", ", ", "]")
      s"""WITH p AS (SELECT
         |    $planeCols),
         |coded AS (SELECT vec_id, embedding, ${codeSql("embedding")} AS code
         |  FROM embeddings, p),
         |q AS (SELECT embedding AS qe, code AS qcode FROM coded WHERE vec_id = 0),
         |probes AS (SELECT qe, unnest($probeList) AS probe FROM q)
         |SELECT vec_id, round(
         |  $DuckCos, 6) AS cos_sim
         |FROM coded, probes
         |WHERE vec_id <> 0 AND code = probe
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin
    }) { (s, dir) =>
      // radius-1 instance of the parameterized [[multiProbe]] sweep knob
      multiProbe(s, dir, radius = 1)
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ---- embedding-cosine near-duplicate pairs, LSH-blocked ----
    // The blocking trick from text dedup applied to vectors: only pairs
    // sharing a hyperplane bucket are compared, so candidate generation is
    // an equi-join on the code, never the O(n²) cross join. Threshold 0.8
    // marks semantic near-dups (none exist in this synthetic corpus at
    // high thresholds — the empty/sparse result is still exact-verified).
    Q("q65_embed_neardup", {
      val planeCols = (0 until NumPlanes)
        .map(j => s"${duckPlaneList(j)} AS p$j").mkString(",\n    ")
      def codeSql(vec: String) = (0 until NumPlanes)
        .map(j => s"(CASE WHEN ${duckDot(vec, s"p$j")} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      def cosPair =
        """(list_sum(list_transform(range(1, len(x.embedding) + 1),
          |    i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
          | / (sqrt(list_sum(list_transform(range(1, len(x.embedding) + 1),
          |    i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
          |  * sqrt(list_sum(list_transform(range(1, len(y.embedding) + 1),
          |    i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))))""".stripMargin
      s"""WITH p AS (SELECT
         |    $planeCols),
         |coded AS (SELECT vec_id, embedding, ${codeSql("embedding")} AS code
         |  FROM embeddings, p)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |  round($cosPair, 6) AS cos_sim
         |FROM coded x JOIN coded y
         |  ON x.code = y.code AND x.vec_id < y.vec_id
         |WHERE $cosPair >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val withPlanes = (0 until NumPlanes).foldLeft(emb) { (df, j) =>
        df.withColumn(s"__p$j", sparkPlaneArray(j))
      }
      // persisted via the registry: both self-join sides read it, and
      // CacheRegistry.clear releases it after the last action.
      val coded = CacheRegistry.cache(s, s"q65-coded:$dir") {
        withPlanes
          .select(col("vec_id"), col("embedding"), sparkCode("embedding").as("code"))
      }
      val pairCos = expr("graft_dot(x.embedding, y.embedding)") /
        (sqrt(expr("graft_dot(x.embedding, x.embedding)")) *
         sqrt(expr("graft_dot(y.embedding, y.embedding)")))
      coded.as("x").join(coded.as("y"),
          col("x.code") === col("y.code") && col("x.vec_id") < col("y.vec_id"))
        .filter(pairCos >= 0.3)
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
          round(pairCos, 6).as("cos_sim"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // ---- k-means assignment step (Lloyd's iteration, broadcast seeds) ----
    // One full Lloyd's iteration's assignment phase with k=5 seed centroids
    // (the embeddings of vec_id 0–4 — deterministic, so both engines start
    // identically). The scale-defining choice: seeds travel as ONE
    // broadcast row holding a 5-element array, and the per-vector argmax
    // runs INSIDE a single projection via an array_max over per-seed
    // (cos, -seed_id) structs — so assignment is map-only (no groupBy on
    // vec_id, no window over 5n rows) and the lone shuffle is the final
    // k-row summary aggregate. Iterating = re-aggregating centroids from
    // the assignment (q73's exact-DECIMAL centroid build) and re-running
    // this map — each Lloyd's round is one broadcast + one pass at 100 TB.
    // Floating parity: per-seed cosine uses the family's sequential fold,
    // rounded to 9dp before the argmax (identical doubles ⇒ identical
    // winners in both engines); the per-cluster mean goes through an exact
    // DECIMAL sum so partial-aggregation order can't wiggle the last ulp.
    Q("q110_kmeans_assign", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      s"""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS se
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT e.vec_id, s.seed_id,
         |    round(${cosSql("embedding", "se")}, 9) AS cos
         |  FROM embeddings e, seeds s),
         |best AS (SELECT vec_id, seed_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
         |  FROM scored)
         |SELECT seed_id, count(*) AS n_assigned,
         |  round(CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_cos
         |FROM best WHERE rn = 1
         |GROUP BY seed_id
         |ORDER BY seed_id""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val seedRow = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("seed_id"), col("embedding").as("se"))
        .agg(array_sort(collect_list(struct(col("seed_id"), col("se")))).as("seeds"))
      val cosInSeed =
        """round(graft_dot(embedding, s.se)
          |  / (sqrt(graft_dot(embedding, embedding))
          |   * sqrt(graft_dot(s.se, s.se))), 9)""".stripMargin
      emb.crossJoin(broadcast(seedRow))
        .select(col("vec_id"), expr(
          s"""array_max(transform(seeds,
             |  s -> struct($cosInSeed AS cos, -s.seed_id AS negseed)))""".stripMargin)
          .as("b"))
        .select((-col("b.negseed")).as("seed_id"), col("b.cos").as("cos"))
        .groupBy(col("seed_id"))
        .agg(count(lit(1)).as("n_assigned"),
          round(sum(col("cos").cast("decimal(38,12)")).cast("double") / count(lit(1)), 6)
            .as("mean_cos"))
        .orderBy(col("seed_id"))
    },

    // ---- random-projection dimensionality reduction (64 → 6) ----
    // The Johnson–Lindenstrauss workhorse that precedes clustering or
    // cheap prefiltering: project every embedding onto the SAME md5-derived
    // hyperplanes the LSH family thresholds (q45/q106 keep only the sign;
    // this keeps the magnitude). Map-only — the planes are literals folded
    // into the projection, so the plan is one codegen'd pass with zero
    // joins and zero shuffles before the output sort; output is exploded
    // to (vec_id, pos, proj) rows because the driver's strict hasher
    // cannot hash array cells. vec_id < 100 bounds the verified slice.
    Q("q111_random_projection", {
      val planeCols = (0 until NumPlanes)
        .map(j => s"${duckPlaneList(j)} AS p$j").mkString(",\n    ")
      val cases = (0 until NumPlanes)
        .map(j => s"WHEN $j THEN ${duckDot("embedding", s"p$j")}")
        .mkString("\n    ")
      s"""WITH p AS (SELECT
         |    $planeCols),
         |sel AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
         |SELECT vec_id, j AS pos,
         |  round(CASE j
         |    $cases
         |  END, 6) AS proj
         |FROM sel, p, range(0, $NumPlanes) t(j)
         |ORDER BY vec_id, pos""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir).filter(col("vec_id") < 100)
      val withPlanes = (0 until NumPlanes).foldLeft(emb) { (df, j) =>
        df.withColumn(s"__p$j", sparkPlaneArray(j))
      }
      withPlanes
        .select(col("vec_id"), explode(array((0 until NumPlanes).map(j =>
          struct(lit(j.toLong).as("pos"),
            round(dotExpr("embedding", s"__p$j"), 6).as("proj"))): _*)).as("r"))
        .select(col("vec_id"), col("r.pos").as("pos"), col("r.proj").as("proj"))
        .orderBy(col("vec_id"), col("pos"))
    },

    // ---- per-label centroid + cosine-to-centroid outlier scoring ----
    // The mislabeled-embedding detector a curation pipeline runs before
    // training: vectors far from their own label's centroid are suspect.
    // Determinism discipline: the centroid's per-dimension mean is an exact
    // DECIMAL sum (order-independent across partial aggregation — a plain
    // double sum would vary in the last ulp with partition order) cast to
    // DOUBLE once; the per-vector cosine then uses the same sequential
    // array fold as q44/q65 (identical to DuckDB's list_sum order).
    // Scale: centroid build = one narrow agg over exploded components
    // (|labels|×dim groups); scoring = broadcast of the tiny centroid
    // table + one codegen'd pass; TakeOrderedAndProject keeps the top-k.
    Q("q73_centroid_outliers",
      """WITH comp AS (
        |  SELECT label, i AS pos,
        |    sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sumv,
        |    count(*) AS cnt
        |  FROM embeddings, range(1, 65) t(i)  -- Dim=64; FROM-range can't be lateral
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(CAST(sumv AS DOUBLE) / cnt ORDER BY pos) AS qe
        |  FROM comp GROUP BY label),
        |scored AS (
        |  SELECT vec_id, e.label AS label,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |        i -> CAST(embedding[i] AS DOUBLE) * qe[i]))
        |      / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(qe) + 1),
        |          i -> qe[i] * qe[i])))) AS cos
        |  FROM embeddings e JOIN cent USING (label))
        |SELECT vec_id, label, round(cos, 6) AS centroid_cos
        |FROM scored
        |ORDER BY centroid_cos ASC, vec_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val e = embTable(s, dir)
      val comp = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      val cent = comp.groupBy(col("label"), col("pos"))
        .agg(sum(col("v").cast("double").cast("decimal(38,12)")).cast("double").as("sumv"),
          count(lit(1)).as("cnt"))
        .select(col("label"), col("pos"), (col("sumv") / col("cnt")).as("c"))
      val centArr = cent.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("centroid"))
      val cos = dotExpr("embedding", "centroid") /
        (normExpr("embedding") * normExpr("centroid"))
      e.join(broadcast(centArr), Seq("label"))
        .select(col("vec_id"), col("label"), round(cos, 6).as("centroid_cos"))
        .orderBy(col("centroid_cos").asc, col("vec_id"))
        .limit(20)
    },

    // ---- semantic dedup: cluster, then prune within-cluster neighbors ----
    // The SemDeDup recipe (cluster the embedding space, then drop every
    // vector whose cosine to an earlier vector IN THE SAME CLUSTER exceeds
    // τ): pairwise comparison is confined to clusters, never the corpus.
    // Composition of q110's assignment step (broadcast seed argmax, one
    // codegen'd pass) with an equi-join ON THE CLUSTER ID — the join that
    // replaces q65's hyperplane-bucket blocking when a clustering already
    // exists. Scale: cost is Σ|cluster|², which stays bounded because k
    // GROWS WITH N — seeds = the first ceil(N/TargetClusterSize) vectors,
    // so expected cluster size is a constant (~TargetClusterSize), the
    // within-cluster pair count is O(N·T), and the pair-join key
    // (seed_id) has N/T distinct values — parallelism and candidate
    // volume both scale linearly (ScaleBench's semdedup phase measures
    // ~2× candidates at 2× vectors). The pair cosine is projected ONCE
    // into a 9dp-rounded column before any comparison (both engines round
    // identically, so the τ=0.4 prune can't straddle a last-ulp
    // difference), and the threshold folds into the aggregate
    // (min over qualifying pairs + HAVING on the max) so the HOF is
    // evaluated exactly once per candidate pair. The keep-first rule
    // (prune the LARGER vec_id) makes the output deterministic.
    Q("q113_semantic_dedup", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      s"""WITH kk AS (SELECT greatest(1, CAST(ceil(count(*) / $SemDedupTarget.0) AS BIGINT)) AS k
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS seed_id, embedding AS se
         |  FROM embeddings, kk WHERE vec_id < kk.k),
         |scored AS (SELECT e.vec_id, e.embedding AS emb, s.seed_id,
         |    round(${cosSql("embedding", "se")}, 9) AS cos
         |  FROM embeddings e, seeds s),
         |assigned AS (SELECT vec_id, emb, seed_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
         |  FROM scored),
         |a AS (SELECT vec_id, emb, seed_id FROM assigned WHERE rn = 1),
         |pairs AS (SELECT y.vec_id AS pruned_id, y.seed_id AS cluster_id,
         |    x.vec_id AS xid, round(${cosSql("x.emb", "y.emb")}, 9) AS pc
         |  FROM a x JOIN a y
         |    ON x.seed_id = y.seed_id AND x.vec_id < y.vec_id)
         |SELECT pruned_id, cluster_id, round(max(pc), 6) AS max_cos,
         |  min(CASE WHEN pc >= 0.4 THEN xid END) AS dup_of
         |FROM pairs
         |GROUP BY pruned_id, cluster_id
         |HAVING max(pc) >= 0.4
         |ORDER BY pruned_id""".stripMargin
    }) { (s, dir) => semanticDedup(s, dir).orderBy(col("pruned_id")) },

    // ---- full Lloyd's k-means: 2 oracle-checked rounds of the loop ----
    // [[kmeansLloyd]] run for exactly 2 rounds at a deterministic seed set
    // (k=5, seeds = vec_id 0–4): round-1 assignment → exact-DECIMAL
    // centroid rebuild (6dp) → round-2 assignment, checked per-vector
    // against the identical computation spelled out in DuckDB CTEs. This
    // oracle-checks the LOOP composition (assignment ∘ rebuild ∘
    // assignment), not just the single steps q110/q73 already cover;
    // KMeansLoopSpec covers convergence/termination behavior the fixed
    // 2-round oracle can't see.
    Q("q120_kmeans_lloyd", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      s"""WITH seeds AS (SELECT vec_id AS seed_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
         |  FROM embeddings WHERE vec_id < 5),
         |s1 AS (SELECT e.vec_id, e.embedding, s.seed_id,
         |    round(${cosSql("embedding", "ce")}, 9) AS cos
         |  FROM embeddings e, seeds s),
         |a1 AS (SELECT vec_id, embedding, seed_id FROM (
         |    SELECT vec_id, embedding, seed_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
         |    FROM s1) WHERE rn = 1),
         |comp AS (SELECT seed_id, i AS pos,
         |    sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12))) AS sumv,
         |    count(*) AS cnt
         |  FROM a1, range(1, 65) t(i)
         |  GROUP BY seed_id, i),
         |c1 AS (SELECT seed_id,
         |    list(round(CAST(sumv AS DOUBLE) / cnt, 6) ORDER BY pos) AS ce
         |  FROM comp GROUP BY seed_id),
         |s2 AS (SELECT e.vec_id, c.seed_id,
         |    round(${cosSql("embedding", "ce")}, 9) AS cos
         |  FROM embeddings e, c1 c)
         |SELECT vec_id, seed_id, round(cos, 6) AS cos FROM (
         |  SELECT vec_id, seed_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
         |  FROM s2) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      kmeansLloyd(s, dir, k = 5, maxRounds = 2)._1.orderBy(col("vec_id"))
    },

    // ---- radius-2 multi-probe: the widest rung of the sweep ----
    // q106's declared twin at Hamming radius 2 — the 22-probe union (query
    // code + 6 single flips + 15 double flips at 6 planes). Identical plan
    // shape to q45/q106: the probe list only widens the BROADCAST side of
    // the same code equi-join, so the recall/candidate trade is a pure
    // knob with zero shuffle change (ScaleBench's probe-width sweep charts
    // radius 0/1/2 on planted and uniform corpora).
    Q("q122_ann_multiprobe_r2", {
      val planeCols = (0 until NumPlanes)
        .map(j => s"${duckPlaneList(j)} AS p$j").mkString(",\n    ")
      def codeSql(vec: String) = (0 until NumPlanes)
        .map(j => s"(CASE WHEN ${duckDot(vec, s"p$j")} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      val flips1 = (0 until NumPlanes).map(j => s"xor(qcode, ${1 << j})")
      val flips2 = for {
        a <- 0 until NumPlanes
        b <- a + 1 until NumPlanes
      } yield s"xor(qcode, ${(1 << a) | (1 << b)})"
      val probeList = ("qcode" +: (flips1 ++ flips2)).mkString("[", ", ", "]")
      s"""WITH p AS (SELECT
         |    $planeCols),
         |coded AS (SELECT vec_id, embedding, ${codeSql("embedding")} AS code
         |  FROM embeddings, p),
         |q AS (SELECT embedding AS qe, code AS qcode FROM coded WHERE vec_id = 0),
         |probes AS (SELECT qe, unnest($probeList) AS probe FROM q)
         |SELECT vec_id, round(
         |  $DuckCos, 6) AS cos_sim
         |FROM coded, probes
         |WHERE vec_id <> 0 AND code = probe
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin
    }) { (s, dir) =>
      // radius-2 instance of the parameterized [[multiProbe]] sweep knob
      multiProbe(s, dir, radius = 2)
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ---- hierarchical two-level assignment (the O(N·k) escape hatch) ----
    // [[hierarchicalAssign]] at k=10 seeds, fanout=4 ⇒ g=3 super-seeds:
    // per vector 3 super dots + ≤|members| member dots instead of 10 —
    // the cost shape that keeps SemDeDup/k-means assignment viable when
    // k ∝ N makes the dense argmax quadratic. Every level is the same
    // deterministic 9dp-rounded argmax, so the WHOLE two-level rule is
    // value-checked against DuckDB (seed→super CTE, vector→super CTE,
    // vector→member-seed CTE). Output mirrors q110's per-cluster summary.
    Q("q123_hierarchical_assign", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      s"""WITH sup AS (SELECT vec_id AS super_id, embedding AS pe
         |  FROM embeddings WHERE vec_id < 3),
         |seeds AS (SELECT vec_id AS seed_id, embedding AS se
         |  FROM embeddings WHERE vec_id < 10),
         |s2s AS (SELECT seed_id, se, super_id,
         |    row_number() OVER (PARTITION BY seed_id
         |      ORDER BY round(${cosSql("se", "pe")}, 9) DESC, super_id) AS rn
         |  FROM seeds, sup),
         |lab AS (SELECT seed_id, se,
         |    CASE WHEN seed_id IN (SELECT super_id FROM sup)
         |      THEN seed_id ELSE super_id END AS super_id
         |  FROM s2s WHERE rn = 1),
         |v1 AS (SELECT e.vec_id, e.embedding, s.super_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("embedding", "pe")}, 9) DESC, s.super_id) AS rn
         |  FROM embeddings e, sup s),
         |vsup AS (SELECT vec_id, embedding, super_id FROM v1 WHERE rn = 1),
         |v2 AS (SELECT v.vec_id, l.seed_id,
         |    round(${cosSql("v.embedding", "l.se")}, 9) AS cos,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY round(${cosSql("v.embedding", "l.se")}, 9) DESC, l.seed_id) AS rn
         |  FROM vsup v JOIN lab l ON v.super_id = l.super_id)
         |SELECT seed_id, count(*) AS n_assigned,
         |  round(CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_cos
         |FROM v2 WHERE rn = 1
         |GROUP BY seed_id
         |ORDER BY seed_id""".stripMargin
    }) { (s, dir) =>
      val e = embTable(s, dir)
      val seeds = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("seed_id"), col("embedding").as("se"))
      hierarchicalAssign(e, seeds, fanout = 4)
        .groupBy(col("seed_id"))
        .agg(count(lit(1)).as("n_assigned"),
          round(sum(col("cos").cast("decimal(38,12)")).cast("double") / count(lit(1)), 6)
            .as("mean_cos"))
        .orderBy(col("seed_id"))
    },

    // ---- distributed power iteration: top principal direction ----
    // The PCA workhorse without any eigensolver: v ← X'Xv, normalized,
    // iterated (3 rounds from the fixed all-0.125 start). Every corpus-
    // sized reduction — the per-vector dot d = x·v and the per-dimension
    // matvec w_j = Σ d·x_j — runs through DECIMAL(38,12) sums, so partial-
    // aggregation ORDER cannot wiggle a bit and the whole loop is
    // oracle-checkable with zero driver-side arithmetic; the normalizer is
    // itself a 64-row DECIMAL aggregate, and v re-enters the next round
    // 9dp-rounded (the family's parity discipline). Scale shape per
    // round: one broadcast of the 64-row v table, two narrow aggregates
    // (|vecs| then 64 groups) — the corpus shuffles only (vec_id, d)
    // partials, never the vectors. Output: the unit top-PC loading per
    // dimension. At 100 TB each round is one pass; more components =
    // deflate and repeat (Gram–Schmidt against the found directions).
    Q("q125_power_iteration", {
      s"""WITH ${powerChainsSql(directions = 1)}
         |SELECT CAST(i AS BIGINT) AS pos, round(v3.v[i], 6) AS loading
         |FROM v3, range(1, 65) t(i)
         |ORDER BY pos""".stripMargin
    }) { (s, dir) =>
      topDirection(s, dir)
        .select(col("pos"), round(col("v"), 6).as("loading")).orderBy(col("pos"))
    },

    // ---- deflated power iteration: SECOND principal direction ----
    // "More components = deflate and repeat" (q125's closing note) made
    // real: after each matvec the accumulating direction is Gram–Schmidt-
    // projected off the found top-PC (w ← w − (w·v)·v) before normalizing,
    // so the loop converges to the runner-up eigendirection. The deflation
    // adds only 64-row work per round — one 64-term DECIMAL dot (w·v) and
    // one elementwise subtract — so the per-round corpus cost is IDENTICAL
    // to q125's: one broadcast of the direction table, two narrow
    // aggregates, vectors never shuffled. Both the v-chain (3 undeflated
    // rounds) and the u-chain (3 deflated rounds) re-derive in the oracle,
    // every corpus reduction through DECIMAL(38,12), directions re-entering
    // 9dp-rounded — the whole two-eigenvector pipeline hash-matches with
    // zero driver arithmetic.
    Q("q126_power_deflation", {
      s"""WITH ${powerChainsSql(directions = 2)}
         |SELECT CAST(i AS BIGINT) AS pos, round(u3.v[i], 6) AS loading2
         |FROM u3, range(1, 65) t(i)
         |ORDER BY pos""".stripMargin
    }) { (s, dir) =>
      secondDirection(s, dir)
        .select(col("pos"), round(col("v"), 6).as("loading2")).orderBy(col("pos"))
    },

    // ---- 2-D PCA projection: the corpus "embedding map" ----
    // The q125/q126 composition curation teams actually plot: every
    // vector's coordinates along the top two principal directions,
    // (x, y) = (x·v1, x·v2). Scale shape: the two 64-row direction
    // tables collapse into ONE broadcast row of two arrays, so the
    // projection is a single map-only codegen'd pass over the corpus —
    // two `graft_dot`s per vector, zero joins, zero shuffles before the
    // presentation sort; the expensive part (the direction chains) is
    // amortized across q125/q126/q132 by the registry. The oracle
    // re-derives both chains (v3 undeflated, u3 deflated) and projects
    // with the same per-element DECIMAL dot the d-step uses. Verified
    // slice vec_id < 200.
    Q("q132_pca_project", {
      s"""WITH ${powerChainsSql(directions = 2)}
         |SELECT e.vec_id,
         |  round(list_sum(list_transform(range(1, 65),
         |    i -> CAST(embedding[i] AS DOUBLE) * v3.v[i])), 6) AS pc1,
         |  round(list_sum(list_transform(range(1, 65),
         |    i -> CAST(embedding[i] AS DOUBLE) * u3.v[i])), 6) AS pc2
         |FROM embeddings e, v3, u3
         |WHERE vec_id < 200
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val v1 = topDirection(s, dir)
      val v2 = secondDirection(s, dir)
      // bounded driver collect (2 × 64 doubles, already 9dp-rounded and
      // bit-identical to the oracle's v3/u3 lists) folds the directions in
      // as literals — the per-row dot is then the family's sequential
      // `graft_dot` fold, matching DuckDB's list_sum order exactly (the
      // per-row fold has a FIXED order, so no DECIMAL discipline needed)
      def lits(df: org.apache.spark.sql.DataFrame) = array(
        df.orderBy(col("pos")).collect().map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
      embTable(s, dir).filter(col("vec_id") < 200)
        .withColumn("__d1", lits(v1)).withColumn("__d2", lits(v2))
        .select(col("vec_id"),
          round(dotExpr("embedding", "__d1"), 6).as("pc1"),
          round(dotExpr("embedding", "__d2"), 6).as("pc2"))
        .orderBy(col("vec_id"))
    },

    // ---- ANN over int8-quantized vectors ----
    // The memory-bound scale path q87's quantization exists for: at 100 TB
    // the scan is bandwidth-limited, and int8 vectors are 4× smaller than
    // float32 (and SIMD-dot-able). Top-10 by the INTEGER dot product of
    // q87-quantized vectors (per-vector max-abs scale, floor(x+0.5)
    // half-up — both engines bit-for-bit), dequantized back to an
    // approximate raw dot via the two scales. Parity is trivial by
    // construction: the candidate score is an exact BIGINT sum, ties
    // break on vec_id, and the dequantization is three double ops on
    // exactly-agreed inputs. Plan: one broadcast of the quantized query
    // row + a single codegen'd corpus pass into TakeOrderedAndProject.
    Q("q139_quantized_ann",
      """WITH q AS (SELECT embedding AS qe,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS qmx
        |  FROM embeddings WHERE vec_id = 0),
        |qq AS (SELECT list_transform(qe,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / qmx * 127.0 + 0.5) AS BIGINT)) AS qv,
        |    qmx FROM q WHERE qmx > 0),
        |c AS (SELECT vec_id, embedding AS emb,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings WHERE vec_id <> 0),
        |cq AS (SELECT vec_id, mx, list_transform(emb,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT)) AS cv
        |  FROM c WHERE mx > 0),
        |scored AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, len(cv) + 1),
        |      i -> cv[i] * qv[i])) AS BIGINT) AS q_dot,
        |    mx, qmx
        |  FROM cq, qq)
        |SELECT vec_id, q_dot,
        |  round(q_dot * (mx / 127.0) * (qmx / 127.0), 6) AS approx_dot
        |FROM scored
        |ORDER BY q_dot DESC, vec_id
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = embTable(s, dir)
      def quant(vecCol: String, mxCol: String) = expr(
        s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) / $mxCol * 127.0 + 0.5) AS BIGINT))")
      val qrow = emb.filter(col("vec_id") === 0)
        .select(expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
          .as("qmx"), col("embedding").as("qe"))
        .filter(col("qmx") > 0) // all-zero query → empty result, both engines
        .select(quant("qe", "qmx").as("qv"), col("qmx"))
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding").as("emb"),
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("mx"))
        .filter(col("mx") > 0)
        .select(col("vec_id"), col("mx"), quant("emb", "mx").as("cv"))
        .crossJoin(broadcast(qrow))
        // exact BIGINT dot via the native codegen'd expression (integer
        // addition is associative, so this is arithmetic-identical to the
        // interpreted HOF it replaced — ArrayDotIntSpec asserts it)
        .select(col("vec_id"),
          expr("graft_dot_int(cv, qv)").as("q_dot"),
          col("mx"), col("qmx"))
        .select(col("vec_id"), col("q_dot"),
          round(col("q_dot") * (col("mx") / lit(127.0)) * (col("qmx") / lit(127.0)), 6)
            .as("approx_dot"))
        .orderBy(col("q_dot").desc, col("vec_id"))
        .limit(10)
    },

    // ---- top-3 principal directions: deflation iterated ----
    // q126's "deflate and repeat" taken one more step: the third
    // eigendirection comes from the SAME power loop with the matvec
    // result Gram–Schmidt-projected off BOTH found directions
    // (modified-GS order — sequential subtraction from the running w —
    // which powerIterCte's oracle CTEs encode identically; with
    // near-orthogonal targets classical vs modified GS differ in the
    // last rounded bits, so the order is part of the contract). Scale
    // shape is unchanged from q125/q126: deflation is 64-row work — two
    // extra DECIMAL dots and subtracts per round — while the corpus
    // still sees exactly one broadcast + two narrow aggregates per
    // round and is never shuffled. All three chains are registry-shared
    // (v3 with q125/q132, u3 with q126/q132, t3 new), so the suite
    // computes each once. The oracle re-derives the whole three-chain
    // pipeline; output is the 64×3 loading table.
    Q("q146_power_top3", {
      s"""WITH ${powerChainsSql(directions = 3)}
         |SELECT CAST(i AS BIGINT) AS pos, round(v3.v[i], 6) AS loading1,
         |  round(u3.v[i], 6) AS loading2, round(t3.v[i], 6) AS loading3
         |FROM v3, u3, t3, range(1, 65) r(i)
         |ORDER BY pos""".stripMargin
    }) { (s, dir) =>
      topDirection(s, dir).select(col("pos"), round(col("v"), 6).as("loading1"))
        .join(secondDirection(s, dir)
          .select(col("pos"), round(col("v"), 6).as("loading2")), Seq("pos"))
        .join(thirdDirection(s, dir)
          .select(col("pos"), round(col("v"), 6).as("loading3")), Seq("pos"))
        .orderBy(col("pos"))
    },

    // ---- farthest-point (k-center greedy) diverse seed selection ----
    // Five maximally-spread exemplars under cosine distance — the
    // deterministic diversity-sampling primitive behind coreset picks and
    // k-means++-style seeding (greedy 2-approximation to the k-center
    // objective). Like q204's LTTB, the selection is sequential with
    // CONSTANT depth (each pick anchors the next round's max-min), so it
    // unrolls into 4 corpus-parallel rounds: anti-join away the chosen
    // ids, broadcast the ≤5 chosen vectors, per-vector min distance, one
    // argmax (max-min distance, earliest id on ties). Distances are
    // 9dp-rounded cosines via the native sequential-fold `graft_dot` —
    // per-row bit-identical to the oracle's list_sum (the q132 note), so
    // the argmax needs no tolerance. Per-round winners localCheckpoint
    // (1 row — the q204 lineage rule). At 100 TB each round is one pass.
    Q("q212_kcenter_seeds", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      val rounds = (2 to 5).map { k =>
        s"""cand${k - 1} AS (SELECT e.vec_id, e.embedding,
           |    min(1 - round(${cosSql("e.embedding", "c.embedding")}, 9)) AS md
           |  FROM embeddings e, c${k - 1} c
           |  WHERE e.vec_id NOT IN (SELECT vec_id FROM c${k - 1})
           |  GROUP BY e.vec_id, e.embedding),
           |w${k - 1} AS (SELECT max(struct_pack(md := md, ni := -vec_id,
           |    emb := embedding)) AS w FROM cand${k - 1}),
           |c$k AS (SELECT * FROM c${k - 1}
           |  UNION ALL SELECT $k, -(w['ni']), w['emb'], w['md'] FROM w${k - 1})"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH c1 AS (SELECT 1 AS rank, vec_id, embedding,
         |    CAST(NULL AS DOUBLE) AS sel_d
         |  FROM embeddings
         |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
         |$rounds
         |SELECT CAST(rank AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
         |  sel_d
         |FROM c5 ORDER BY rank""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir).select(col("vec_id"), col("embedding"))
      val cosC = round(dotExpr("embedding", "ce")
        / (normExpr("embedding") * normExpr("ce")), 9)
      // one scope for both lock-step chains (chosen + per-round winner):
      // their pins strictly alternate, so each one's predecessor stays
      // inside the keep-2 window until its successor has materialized
      val ps = Loops.scope(s)
      var chosen = emb.orderBy(col("vec_id")).limit(1)
        .select(lit(1L).as("rank"), col("vec_id"), col("embedding"),
          lit(null).cast("double").as("sel_d"))
        .pin(ps)
      for (k <- 2 to 5) {
        val cand = emb
          .join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .crossJoin(broadcast(chosen.select(col("embedding").as("ce"))))
          .select(col("vec_id"), col("embedding"), (lit(1.0) - cosC).as("d"))
          .groupBy(col("vec_id"), col("embedding")).agg(min(col("d")).as("md"))
        val w = cand
          .agg(max(struct(col("md"), (-col("vec_id")).as("ni"),
            col("embedding").as("emb"))).as("w"))
          .select(lit(k.toLong).as("rank"), (-col("w.ni")).as("vec_id"),
            col("w.emb").as("embedding"), col("w.md").as("sel_d"))
          .pin(ps)
        chosen = chosen.unionByName(w).pin(ps)
      }
      chosen.select(col("rank").cast("long").as("rank"),
          col("vec_id").cast("long").as("vec_id"), col("sel_d"))
        .orderBy(col("rank"))
    },

    // ---- centroid silhouette: clustering-quality score ----
    // The evaluation pass every clustering run (q110/q113/q120) needs
    // before its output is trusted: the centroid-based silhouette
    // s_i = (b_i − a_i) / max(a_i, b_i) with a = cosine distance to the
    // OWN (nearest) seed and b = distance to the second-nearest — the
    // O(N·k) simplification of the O(N²) pairwise silhouette, the only
    // form that scales. One pass: the q110 broadcast-seed-array argmax
    // extended to keep the TOP-2 of the per-seed struct array, so a and
    // b fall out of the same sorted literal array — corpus never joins,
    // never shuffles vectors; the per-cluster report aggregates
    // (seed_id, s) pairs. s derives from 9dp-rounded cosines (identical
    // both engines), means sum as DECIMAL(38,12); exact-duplicate-seed
    // degeneracy (a = b = 0) is a stated s = 0. ALL row = re-aggregation
    // of the narrow (seed, s) rows, not a second scan.
    Q("q256_silhouette", {
      def cosSql(a: String, b: String) =
        s"""(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
           | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
           |  * sqrt(list_sum(list_transform(range(1, len($b) + 1),
           |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin
      s"""WITH seeds AS (SELECT vec_id AS seed_id, embedding AS se
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT e.vec_id, s.seed_id,
         |    round(${cosSql("embedding", "se")}, 9) AS cos
         |  FROM embeddings e, seeds s),
         |best AS (SELECT vec_id, seed_id, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, seed_id) AS rn
         |  FROM scored),
         |picks AS (SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN seed_id END) AS seed_id,
         |    max(CASE WHEN rn = 1 THEN cos END) AS c1,
         |    max(CASE WHEN rn = 2 THEN cos END) AS c2
         |  FROM best WHERE rn <= 2 GROUP BY vec_id),
         |sil AS (SELECT seed_id,
         |    CASE WHEN greatest(1 - c1, 1 - c2) = 0 THEN 0.0
         |         ELSE (c1 - c2) / greatest(1 - c1, 1 - c2) END AS s
         |  FROM picks),
         |per AS (SELECT seed_id, count(*) AS n,
         |    sum(CAST(round(s, 9) AS DECIMAL(38,12))) AS ssum
         |  FROM sil GROUP BY seed_id)
         |SELECT CAST(seed_id AS BIGINT) AS seed_id, CAST(n AS BIGINT) AS n,
         |  round(CAST(ssum AS DOUBLE) / n, 6) AS mean_sil
         |FROM per
         |UNION ALL
         |SELECT -1, CAST(sum(n) AS BIGINT),
         |  round(CAST(sum(ssum) AS DOUBLE) / sum(n), 6)
         |FROM per
         |ORDER BY seed_id""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val seedRow = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("seed_id"), col("embedding").as("se"))
        .agg(array_sort(collect_list(struct(col("seed_id"), col("se")))).as("seeds"))
      val cosInSeed =
        """round(graft_dot(embedding, s.se)
          |  / (sqrt(graft_dot(embedding, embedding))
          |   * sqrt(graft_dot(s.se, s.se))), 9)""".stripMargin
      // the k-row per-cluster frame feeds both the report rows and the
      // ALL re-aggregation — registry-cached so the corpus pass runs once
      val per = CacheRegistry.cache(s, s"q256-per:$dir") { emb.crossJoin(broadcast(seedRow))
        .select(col("vec_id"), expr(
          s"""array_sort(transform(seeds,
             |  s -> struct(-($cosInSeed) AS negcos, s.seed_id AS sid)))""".stripMargin)
          .as("sc"))
        .select(col("sc")(0).getField("sid").as("seed_id"),
          (-col("sc")(0).getField("negcos")).as("c1"),
          (-col("sc")(1).getField("negcos")).as("c2"))
        .select(col("seed_id"),
          when(greatest(lit(1) - col("c1"), lit(1) - col("c2")) === 0, lit(0.0))
            .otherwise((col("c1") - col("c2"))
              / greatest(lit(1) - col("c1"), lit(1) - col("c2"))).as("s"))
        .groupBy(col("seed_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("s"), 9).cast("decimal(38,12)")).as("ssum"))
      }
      val withAll = per.unionByName(
        per.agg(sum(col("n")).as("n"), sum(col("ssum")).as("ssum"))
          .select(lit(-1L).as("seed_id"), col("n"), col("ssum")))
      withAll.select(col("seed_id").cast("long").as("seed_id"),
          col("n").cast("long").as("n"),
          round(col("ssum").cast("double") / col("n"), 6).as("mean_sil"))
        .orderBy(col("seed_id"))
    },

    // ---- hybrid retrieval: reciprocal-rank fusion of BM25 + cosine ----
    // The standard RAG retrieval pattern: a lexical ranker (q93's BM25
    // over the fixed term set, scores shared via Curation.bm25Scored) and
    // a semantic ranker (exact cosine against query vector 0, the q44
    // discipline — embeddings and documents share the 0-based id space)
    // each produce a top-20 list; RRF fuses them with
    // Σ 1/(60 + rank) over the lists a doc appears in. Rank integers make
    // the fusion score a sum of exact rationals evaluated in identical
    // textual order, so only the input rankings (already 6dp-rounded,
    // id-tie-broken) carry cross-engine risk. Scale: both rankers cut to
    // top-20 via TakeOrderedAndProject before any window; the fusion
    // full-outer-join touches ≤ 40 rows.
    Q("q263_hybrid_rrf",
      s"""WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
        |ad AS (SELECT CAST(sum(dl) AS BIGINT) * 1.0 / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN word = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS tf_data,
        |    CAST(sum(CASE WHEN word = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf_scan,
        |    CAST(sum(CASE WHEN word = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf_hash
        |  FROM w GROUP BY doc_id),
        |c AS (SELECT
        |    count(DISTINCT CASE WHEN word = 'data' THEN doc_id END) AS df_data,
        |    count(DISTINCT CASE WHEN word = 'scan' THEN doc_id END) AS df_scan,
        |    count(DISTINCT CASE WHEN word = 'hash' THEN doc_id END) AS df_hash
        |  FROM w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |lexs AS (SELECT tf.doc_id AS doc_id,
        |  round(
        |    ln(1 + (n_docs - df_data + 0.5) / (df_data + 0.5))
        |      * tf_data * 2.2 / (tf_data + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
        |  + ln(1 + (n_docs - df_scan + 0.5) / (df_scan + 0.5))
        |      * tf_scan * 2.2 / (tf_scan + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
        |  + ln(1 + (n_docs - df_hash + 0.5) / (df_hash + 0.5))
        |      * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)), 6)
        |    AS score
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id, c, n, ad
        |  WHERE tf_data + tf_scan + tf_hash > 0),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS r_lex
        |  FROM (SELECT * FROM lexs ORDER BY score DESC, doc_id LIMIT 20)),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sems AS (SELECT vec_id AS doc_id, round($DuckCos, 6) AS cos_sim
        |  FROM embeddings, q WHERE vec_id <> 0),
        |sem AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id)
        |    AS r_sem
        |  FROM (SELECT * FROM sems ORDER BY cos_sim DESC, doc_id LIMIT 20))
        |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
        |  CAST(r_lex AS BIGINT) AS r_lex, CAST(r_sem AS BIGINT) AS r_sem,
        |  round(coalesce(1.0 / (60 + r_lex), 0.0)
        |      + coalesce(1.0 / (60 + r_sem), 0.0), 9) AS rrf
        |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        |ORDER BY rrf DESC, doc_id
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = embTable(s, dir)
      val wTop = org.apache.spark.sql.expressions.Window
      val lex = Curation.bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), row_number().over(
          wTop.orderBy(col("score").desc, col("doc_id"))).as("r_lex"))
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val sem = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(dotExpr("embedding", "qe") / (normExpr("embedding") * normExpr("qe")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), row_number().over(
          wTop.orderBy(col("cos_sim").desc, col("doc_id"))).as("r_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          col("r_lex").cast("long").as("r_lex"),
          col("r_sem").cast("long").as("r_sem"),
          round(coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // ---- product quantization: encode to m×6-bit codes ----
    // THE memory-bound scale path beyond q139's int8: split each 64-dim
    // vector into M=8 8-dim subspaces, quantize each subvector to its
    // nearest of K=64 codebook centroids — 8 small codes per vector,
    // 32× smaller than float32 (vs int8's 4×). Codebook = the subvectors
    // of the first 64 vectors (the deterministic sampled-codebook
    // baseline; a trained codebook is q120's Lloyd machinery composed per
    // subspace — same downstream shape). Exactness: per-subspace squared
    // distances are 8-term double sums generated in IDENTICAL textual
    // order for both engines (no transcendentals — bit-identical), and
    // the argmin is a lexicographic struct min with the code id as the
    // stated tiebreak. Scale shape: one broadcast of the 64-row codebook
    // onto an embarrassingly-parallel N×64 map + one hash aggregate —
    // codes never shuffle wider than (vec_id, 8 bytes).
    Q("q292_pq_encode", {
      val dists = (0 until PqM).map(j =>
        s"${pqSubDistSql("e.embedding", "cb.ce", j, duck = true)} AS d$j")
        .mkString(",\n    ")
      val mins = (0 until PqM).map(j =>
        s"min(struct_pack(d := d$j, c := c)) AS m$j").mkString(",\n    ")
      val codes = (0 until PqM).map(j => s"CAST(m$j.c AS VARCHAR)")
        .mkString(" || ',' || ")
      val dist = (0 until PqM).map(j => s"m$j.d").mkString(" + ")
      s"""WITH cb AS (SELECT vec_id AS c, embedding AS ce FROM embeddings
         |  WHERE vec_id < $PqK),
         |d AS (SELECT e.vec_id, cb.c,
         |    $dists
         |  FROM embeddings e, cb),
         |m AS (SELECT vec_id,
         |    $mins
         |  FROM d GROUP BY vec_id)
         |SELECT vec_id, $codes AS codes,
         |  round($dist, 6) AS distortion
         |FROM m ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val (pm, _) = pqGeom(s)
      val m = pqCodes(s, dir)
      m.select(col("vec_id"),
          concat_ws(",",
            (0 until pm).map(j => col(s"m$j").getField("c").cast("string")): _*)
            .as("codes"),
          round((0 until pm).map(j => col(s"m$j").getField("d"))
            .reduce(_ + _), 6).as("distortion"))
        .orderBy(col("vec_id"))
    },

    // ---- PQ asymmetric-distance top-k (ADC search) ----
    // The search half: the query vector stays EXACT; per subspace a
    // 64-entry lookup table of query→centroid distances is built once,
    // and each database vector's approximate distance is the sum of 8
    // table lookups on its codes — no float vector is ever read at scan
    // time, which is the whole point at 100 TB (the code column is 32×
    // smaller, and the LUT build is O(K·D) per query, independent of N).
    // LUT entries round(9) and the 8-term sum runs in fixed textual
    // order — bit-identical; ties broken by vec_id. true_l2 (exact, full
    // dimension) rides along so the approximation error is visible in
    // the checked output itself.
    Q("q293_pq_adc_topk", {
      val luts = (0 until PqM).map(j =>
        s"round(${pqSubDistSql("q.qe", "cb.ce", j, duck = true)}, 9) AS l$j")
        .mkString(",\n    ")
      val codeCols = (0 until PqM).map(j => s"m$j.c AS c$j").mkString(", ")
      val joins = (0 until PqM).map(j => s"JOIN lut t$j ON t$j.c = v.c$j")
        .mkString("\n  ")
      val adc = (0 until PqM).map(j => s"t$j.l$j").mkString(" + ")
      val dists = (0 until PqM).map(j =>
        s"${pqSubDistSql("e.embedding", "cb.ce", j, duck = true)} AS d$j")
        .mkString(",\n    ")
      val mins = (0 until PqM).map(j =>
        s"min(struct_pack(d := d$j, c := c)) AS m$j").mkString(",\n    ")
      s"""WITH cb AS (SELECT vec_id AS c, embedding AS ce FROM embeddings
         |  WHERE vec_id < $PqK),
         |d AS (SELECT e.vec_id, cb.c,
         |    $dists
         |  FROM embeddings e, cb),
         |m AS (SELECT vec_id,
         |    $mins
         |  FROM d GROUP BY vec_id),
         |codes AS (SELECT vec_id, $codeCols FROM m),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |lut AS (SELECT cb.c,
         |    $luts
         |  FROM cb, q),
         |l2 AS (SELECT e.vec_id,
         |    ${l2FullSql("e.embedding", "q.qe", duck = true)} AS t
         |  FROM embeddings e, q)
         |SELECT v.vec_id, round($adc, 6) AS adc_dist,
         |  round(l2.t, 6) AS true_l2
         |FROM codes v
         |  $joins
         |  JOIN l2 ON l2.vec_id = v.vec_id
         |WHERE v.vec_id <> 0
         |ORDER BY adc_dist, v.vec_id
         |LIMIT 10""".stripMargin
    }) { (s, dir) =>
      pqAdcFor(s, dir, qid = 0)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    },

    // ---- IVF-PQ with exact rerank: the production ANN stack, composed ----
    // The three verified pieces end-to-end, exactly as deployed systems
    // chain them: (1) COARSE probe — q59's per-label centroids, nearest 2
    // lists by L2 (nprobe=2 is the recall knob; at 100 TB the corpus is
    // partitioned by list id so this prunes the scan itself); (2) ADC
    // scan — q293's code+LUT distance over ONLY the probed candidates,
    // top-20 by the 6dp ADC distance; (3) exact RERANK — full-dimension
    // L2 on those ≤20 survivors, top-5 out. SCALE.md's pq table is the
    // quantitative argument for stage 3: raw ADC ranking is not a top-k
    // oracle, but its top-100 candidate set retains 0.83–0.96 of the
    // truth — reranking a constant-size candidate set costs O(k·D) and
    // restores exactness over what the funnel admitted. Determinism:
    // centroids 6dp-rounded, every distance a fixed-order sum, every cut
    // (probe/top-20/top-5) tie-broken by the id.
    Q("q294_ivfpq_rerank", {
      val luts = (0 until PqM).map(j =>
        s"round(${pqSubDistSql("q.qe", "cb.ce", j, duck = true)}, 9) AS l$j")
        .mkString(",\n    ")
      val codeCols = (0 until PqM).map(j => s"m$j.c AS c$j").mkString(", ")
      val joins = (0 until PqM).map(j => s"JOIN lut t$j ON t$j.c = v.c$j")
        .mkString("\n  ")
      val adc = (0 until PqM).map(j => s"t$j.l$j").mkString(" + ")
      val dists = (0 until PqM).map(j =>
        s"${pqSubDistSql("e.embedding", "cb.ce", j, duck = true)} AS d$j")
        .mkString(",\n    ")
      val mins = (0 until PqM).map(j =>
        s"min(struct_pack(d := d$j, c := c)) AS m$j").mkString(",\n    ")
      def l2Sql(a: String, b: String) = l2FullSql(a, b, duck = true)
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pos AS (SELECT label, generate_subscripts(embedding, 1) AS i,
         |               CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
         |cent AS (SELECT label, list(round(avg_v, 6) ORDER BY i) AS centroid
         |         FROM (SELECT label, i, avg(val) AS avg_v FROM pos GROUP BY label, i)
         |         GROUP BY label),
         |probe AS (SELECT label FROM cent, q
         |          ORDER BY round(${l2Sql("centroid", "qe")}, 9), label LIMIT 2),
         |cand AS (SELECT e.vec_id FROM embeddings e JOIN probe p
         |           ON e.label = p.label WHERE e.vec_id <> 0),
         |cb AS (SELECT vec_id AS c, embedding AS ce FROM embeddings
         |  WHERE vec_id < $PqK),
         |d AS (SELECT e.vec_id, cb.c,
         |    $dists
         |  FROM embeddings e, cb),
         |m AS (SELECT vec_id,
         |    $mins
         |  FROM d GROUP BY vec_id),
         |codes AS (SELECT vec_id, $codeCols FROM m),
         |lut AS (SELECT cb.c,
         |    $luts
         |  FROM cb, q),
         |l2 AS (SELECT e.vec_id, round(${l2Sql("e.embedding", "q.qe")}, 6) AS true_l2
         |  FROM embeddings e, q),
         |top20 AS (SELECT v.vec_id, round($adc, 6) AS adc_dist, l2.true_l2
         |  FROM codes v
         |  $joins
         |  JOIN cand USING (vec_id)
         |  JOIN l2 USING (vec_id)
         |  ORDER BY adc_dist, v.vec_id LIMIT 20)
         |SELECT vec_id, adc_dist, true_l2 FROM top20
         |ORDER BY true_l2, vec_id LIMIT 5""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      // q59's centroid build (6dp components so both engines' avg agrees)
      val centroids = emb
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col").cast("double")).as("v"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), round(col("v"), 6).as("v"))))
          .as("pv"))
        .select(col("label"), expr("transform(pv, x -> x.v)").as("centroid"))
      // nearest-2 lists by the 9dp-rounded full-dim squared-diff sum —
      // the SAME textual arithmetic as the oracle's probe (l2FullSql)
      val cl2 = round(expr(l2FullSql("centroid", "qe", duck = false)), 9)
      val probe = centroids.crossJoin(broadcast(q))
        .select(col("label"), cl2.as("cl2"))
        .orderBy(col("cl2"), col("label"))
        .limit(pqNprobe(s)).select(col("label"))
      val cand = emb.filter(col("vec_id") =!= 0)
        .join(broadcast(probe), Seq("label"))
        .select(col("vec_id"))
      pqAdcFor(s, dir, qid = 0)
        .join(broadcast(cand), Seq("vec_id"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(20)
        .orderBy(col("true_l2"), col("vec_id"))
        .limit(5)
    },

    // ---- residual IVF-PQ: quantize v − centroid, not v ----
    // The textbook upgrade over q294, aimed at exactly the weakness the
    // SCALE.md pq table measured: on CLUSTERED corpora, raw-vector codes
    // waste their budget re-describing the cluster offset every vector
    // shares, so within-list neighbors — the only ones that matter after
    // the coarse probe — are near-indistinguishable. Coding the RESIDUAL
    // (v − its list centroid) spends all code resolution on within-list
    // variation (FAISS's IVF-PQ). The LUT becomes per-(list, code):
    // dist_j(q − cent_l, rcb_c) for each probed list l — still O(nprobe·
    // K·D) per query, independent of N. Residuals are exact IEEE
    // subtractions of 6dp centroid components — bit-identical both
    // engines; everything else is q294's discipline (struct-min codes,
    // round(9) LUT, fixed-order sums, id tiebreaks, exact rerank).
    Q("q295_ivfpq_residual", {
      val dists = (0 until PqM).map(j =>
        s"${pqSubDistSql("e.rv", "cb.rce", j, duck = true)} AS d$j")
        .mkString(",\n    ")
      val mins = (0 until PqM).map(j =>
        s"min(struct_pack(d := d$j, c := c)) AS m$j").mkString(",\n    ")
      val codeCols = (0 until PqM).map(j => s"m$j.c AS c$j").mkString(", ")
      val luts = (0 until PqM).map(j =>
        s"round(${pqSubDistSql("q.qr", "cb.rce", j, duck = true)}, 9) AS l$j")
        .mkString(",\n    ")
      val joins = (0 until PqM).map(j =>
        s"JOIN lut t$j ON t$j.label = v.label AND t$j.c = v.c$j").mkString("\n  ")
      val adc = (0 until PqM).map(j => s"t$j.l$j").mkString(" + ")
      def l2Sql(a: String, b: String) = l2FullSql(a, b, duck = true)
      s"""WITH q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pos AS (SELECT label, generate_subscripts(embedding, 1) AS i,
         |               CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
         |cent AS (SELECT label, list(round(avg_v, 6) ORDER BY i) AS centroid
         |         FROM (SELECT label, i, avg(val) AS avg_v FROM pos GROUP BY label, i)
         |         GROUP BY label),
         |probe AS (SELECT label, centroid FROM cent, q0
         |          ORDER BY round(${l2Sql("centroid", "qe")}, 9), label LIMIT 2),
         |res AS (SELECT e.vec_id, e.label,
         |    list_transform(range(1, len(e.embedding) + 1),
         |      i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) AS rv
         |  FROM embeddings e JOIN cent c USING (label)),
         |rcb AS (SELECT vec_id AS c, rv AS rce FROM res WHERE vec_id < $PqK),
         |d AS (SELECT e.vec_id, e.label, cb.c,
         |    $dists
         |  FROM res e, rcb cb),
         |m AS (SELECT vec_id, label,
         |    $mins
         |  FROM d GROUP BY vec_id, label),
         |codes AS (SELECT vec_id, label, $codeCols FROM m),
         |q AS (SELECT p.label,
         |    list_transform(range(1, len(q0.qe) + 1),
         |      i -> CAST(q0.qe[i] AS DOUBLE) - p.centroid[i]) AS qr
         |  FROM probe p, q0),
         |lut AS (SELECT q.label, cb.c,
         |    $luts
         |  FROM rcb cb, q),
         |l2 AS (SELECT e.vec_id, round(${l2Sql("e.embedding", "q0.qe")}, 6) AS true_l2
         |  FROM embeddings e, q0),
         |top20 AS (SELECT v.vec_id, round($adc, 6) AS adc_dist, l2.true_l2
         |  FROM codes v
         |  $joins
         |  JOIN l2 USING (vec_id)
         |  WHERE v.vec_id <> 0
         |  ORDER BY adc_dist, v.vec_id LIMIT 20)
         |SELECT vec_id, adc_dist, true_l2 FROM top20
         |ORDER BY true_l2, vec_id LIMIT 5""".stripMargin
    }) { (s, dir) =>
      pqResidualAdcFor(s, dir, qid = 0, nprobe = pqNprobe(s))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(20)
        .orderBy(col("true_l2"), col("vec_id"))
        .limit(5)
    },

    // ---- residual IVF-PQ recall@5, audited in-engine ----
    // q278's index-quality-audit pattern applied to the production ANN
    // stack: for an 8-query sample (vec_ids 100–107, outside the
    // codebook), run q295's full funnel per query — coarse probe
    // (nprobe lists) → residual-ADC top-20 → exact rerank top-5 — and
    // score it against the exact full-corpus L2 top-5. recall = |∩|/5
    // per query plus the ALL row (qid −1). The funnel is BATCHED over
    // the query set in one plan (per-qid windows, one broadcast LUT of
    // nprobe·K rows per query), which is how a production recall audit
    // runs nightly: ground truth costs N·|sample| deliberately — the
    // funnel being audited is what makes full exact ranking unnecessary
    // outside the audit. Every distance is the shared textual
    // squared-diff sum; every cut tie-breaks on the id. NOTE the driver
    // testdata's embeddings are only weakly clustered by label, so
    // nprobe=2 of L lists bounds expected recall near 2/L here — the
    // audit's checked VALUE is the point; the deployed-regime recall
    // curve (strong cluster geometry, nprobe ∈ {1,2,4,8}) is measured on
    // ScaleBench's clustered twin (SCALE.md nprobe table).
    Q("q296_ivfpq_recall_audit", {
      val dists = (0 until PqM).map(j =>
        s"${pqSubDistSql("e.rv", "cb.rce", j, duck = true)} AS d$j")
        .mkString(",\n    ")
      val mins = (0 until PqM).map(j =>
        s"min(struct_pack(d := d$j, c := c)) AS m$j").mkString(",\n    ")
      val codeCols = (0 until PqM).map(j => s"m$j.c AS c$j").mkString(", ")
      val luts = (0 until PqM).map(j =>
        s"round(${pqSubDistSql("qr.qr", "cb.rce", j, duck = true)}, 9) AS l$j")
        .mkString(",\n    ")
      val joins = (0 until PqM).map { j =>
        if (j == 0) s"JOIN lut t0 ON t0.label = v.label AND t0.c = v.c0"
        else s"JOIN lut t$j ON t$j.qid = t0.qid AND t$j.label = v.label" +
          s" AND t$j.c = v.c$j"
      }.mkString("\n  ")
      val adc = (0 until PqM).map(j => s"t$j.l$j").mkString(" + ")
      def l2Sql(a: String, b: String) = l2FullSql(a, b, duck = true)
      s"""WITH q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id >= 100 AND vec_id < 108),
         |pos AS (SELECT label, generate_subscripts(embedding, 1) AS i,
         |               CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings),
         |cent AS MATERIALIZED (SELECT label, list(round(avg_v, 6) ORDER BY i) AS centroid
         |         FROM (SELECT label, i, avg(val) AS avg_v FROM pos GROUP BY label, i)
         |         GROUP BY label),
         |pd AS (SELECT q0.qid, c.label, c.centroid, q0.qe,
         |    row_number() OVER (PARTITION BY q0.qid
         |      ORDER BY round(${l2Sql("c.centroid", "q0.qe")}, 9), c.label) AS rn
         |  FROM cent c, q0),
         |probe AS (SELECT qid, label, centroid, qe FROM pd WHERE rn <= 2),
         |res AS MATERIALIZED (SELECT e.vec_id, e.label,
         |    list_transform(range(1, len(e.embedding) + 1),
         |      i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) AS rv
         |  FROM embeddings e JOIN cent c USING (label)),
         |rcb AS (SELECT vec_id AS c, rv AS rce FROM res WHERE vec_id < $PqK),
         |d AS (SELECT e.vec_id, e.label, cb.c,
         |    $dists
         |  FROM res e, rcb cb),
         |m AS (SELECT vec_id, label,
         |    $mins
         |  FROM d GROUP BY vec_id, label),
         |codes AS MATERIALIZED (SELECT vec_id, label, $codeCols FROM m),
         |qr AS (SELECT p.qid, p.label,
         |    list_transform(range(1, len(p.qe) + 1),
         |      i -> CAST(p.qe[i] AS DOUBLE) - p.centroid[i]) AS qr
         |  FROM probe p),
         |lut AS MATERIALIZED (SELECT qr.qid, qr.label, cb.c,
         |    $luts
         |  FROM rcb cb, qr),
         |adc AS (SELECT t0.qid, v.vec_id, round($adc, 6) AS adc_dist
         |  FROM codes v
         |  $joins
         |  WHERE v.vec_id <> t0.qid),
         |top20 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
         |  FROM adc) t WHERE rn <= 20),
         |l2f AS MATERIALIZED (SELECT q0.qid, e.vec_id,
         |    round(${l2Sql("e.embedding", "q0.qe")}, 6) AS t
         |  FROM embeddings e, q0 WHERE e.vec_id <> q0.qid),
         |fun5 AS (SELECT qid, vec_id FROM (SELECT t20.qid, t20.vec_id,
         |    row_number() OVER (PARTITION BY t20.qid ORDER BY l.t, t20.vec_id) AS rn
         |  FROM top20 t20 JOIN l2f l ON l.qid = t20.qid AND l.vec_id = t20.vec_id) t
         |  WHERE rn <= 5),
         |ex5 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY t, vec_id) AS rn
         |  FROM l2f) t WHERE rn <= 5),
         |per AS (SELECT f.qid, round(count(e.vec_id) * 1.0 / 5, 6) AS recall
         |  FROM fun5 f LEFT JOIN ex5 e ON e.qid = f.qid AND e.vec_id = f.vec_id
         |  GROUP BY 1)
         |SELECT CAST(qid AS BIGINT) AS qid, recall FROM per
         |UNION ALL
         |SELECT -1, round(avg(recall), 6) FROM per
         |ORDER BY qid""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val np = pqNprobe(s)
      val (pm, _) = pqGeom(s)
      val emb = embTable(s, dir)
      val qs = emb.filter(col("vec_id") >= 100 && col("vec_id") < 108)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wp = Window.partitionBy(col("qid")).orderBy(col("cl2"), col("label"))
      val probe = ivfCentroids(s, dir).crossJoin(broadcast(qs))
        .select(col("qid"), col("label"), col("centroid"), col("qe"),
          round(expr(l2FullSql("centroid", "qe", duck = false)), 9).as("cl2"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") <= np)
        .select(col("qid"), col("label"), col("centroid"), col("qe"))
      val (codes, rcb) = resCodesAnd(s, dir)
      val qr = probe.select(col("qid"), col("label"),
        expr("zip_with(qe, centroid, (a, b) -> CAST(a AS DOUBLE) - b)").as("qr"))
      // The per-(qid, list, code) LUT is nprobe·|sample|·K rows — the
      // bounded, query-side state ADC exists to keep in registers. Inline
      // it as M literal maps instead of M broadcast joins: the 9dp values
      // round-trip the driver bit-exactly (same doubles the join would
      // have carried), the adc sum keeps its l0+…+l7 order, and the plan
      // drops 8 BroadcastExchange+BHJ stages for one codegen'd projection
      // (cold wall was driver planning, not task work — StageProfile r12).
      val lutRows = rcb.crossJoin(broadcast(qr))
        .select(col("qid") +: col("label") +: col("c") +: (0 until pm).map(j =>
          round(expr(pqSubDistSql("qr", "rce", j, duck = false, pm)), 9)
            .as(s"l$j")): _*)
        .collect()
      def packKey(qid: Long, label: Long, c: Long): Long = {
        require(label >= 0 && label < 100 && c >= 0 && c < 100000,
          s"LUT key packing bound exceeded: label=$label c=$c")
        (qid * 100L + label) * 100000L + c
      }
      val lutMaps: IndexedSeq[Map[Long, Double]] = (0 until pm).map { j =>
        lutRows.map { r =>
          packKey(r.getLong(0), r.getAs[Number](1).longValue,
            r.getLong(2)) -> r.getDouble(3 + j)
        }.toMap
      }
      // candidate generation: codes fan out to the (qid, probed label)
      // pairs through ONE broadcast join; the M lookups ride the projection
      val cand = codes.join(
        broadcast(probe.select(col("qid"), col("label"))), Seq("label"))
      val keyCol = (j: Int) =>
        ((col("qid") * 100L + col("label")) * 100000L + col(s"c$j")).cast("long")
      val adcCol = (0 until pm)
        .map(j => element_at(typedLit(lutMaps(j)), keyCol(j)))
        .reduce(_ + _)
      val adcF = cand.filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), round(adcCol, 6).as("adc_dist"))
      val wa = Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("vec_id"))
      val top20 = adcF.withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= 20).select(col("qid"), col("vec_id"))
      val l2f = emb.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr(l2FullSql("embedding", "qe", duck = false)), 6).as("t"))
      val wt = Window.partitionBy(col("qid")).orderBy(col("t"), col("vec_id"))
      val fun5 = top20.join(l2f, Seq("qid", "vec_id"))
        .withColumn("rn", row_number().over(wt)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val ex5 = l2f.withColumn("rn", row_number().over(wt)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), lit(1L).as("hitmark"))
      // cached because this plan reads the per-query recall frame twice:
      // the per-qid rows and the average row of the union below (cold at
      // sf0.1 on 4 cores, dropping the cache cost +0.7 s wall, +2.0 cpu-s)
      val per = graft.ops.CacheRegistry.cache(s, s"q296-recall:$dir:np$np") {
        fun5.join(ex5, Seq("qid", "vec_id"), "left")
          .groupBy(col("qid"))
          .agg(round(count(col("hitmark")) * lit(1.0) / 5, 6).as("recall"))
      }
      per.select(col("qid").cast("long").as("qid"), col("recall"))
        .unionAll(per.agg(round(avg(col("recall")), 6).as("recall"))
          .select(lit(-1L).as("qid"), col("recall")))
        .orderBy(col("qid"))
    }
  )

  /** The q295 residual-ADC frame for an arbitrary query: (vec_id,
    * adc_dist, true_l2) over the vectors of the `nprobe` nearest lists
    * (nprobe ≤ 0 ⇒ ALL lists — the ScaleBench measurement mode that
    * isolates residual-code quality from probe recall). */
  private[graft] def pqResidualAdcFor(s: org.apache.spark.sql.SparkSession,
      dir: String, qid: Long, nprobe: Int): org.apache.spark.sql.DataFrame = {
    val (pm, pk) = pqGeom(s)
    val emb = embTable(s, dir)
    val q0 = emb.filter(col("vec_id") === qid).select(col("embedding").as("qe"))
    val centroids = ivfCentroids(s, dir)
    val cl2 = round(expr(l2FullSql("centroid", "qe", duck = false)), 9)
    val probe =
      if (nprobe <= 0) centroids
      else centroids.crossJoin(broadcast(q0))
        .select(col("label"), col("centroid"), cl2.as("cl2"))
        .orderBy(col("cl2"), col("label"))
        .limit(nprobe).select(col("label"), col("centroid"))
    val (codes, rcb) = resCodesAnd(s, dir)
    val qr = broadcast(probe).crossJoin(broadcast(q0))
      .select(col("label"),
        expr("zip_with(qe, centroid, (a, b) -> CAST(a AS DOUBLE) - b)").as("qr"))
    // LUT inlined as M literal maps (OPTIMIZATION_r17 — the q296
    // discipline, scaladoc there): the nprobe·K-row LUT previously rode
    // M separate broadcast joins, each re-embedding the LUT lineage in
    // the plan and paying its own BroadcastExchange job. The collected
    // 9dp values round-trip the driver bit-exactly and the adc sum keeps
    // its l0+…+l7 order; candidate restriction to the probed lists moves
    // to one explicit broadcast semi-join on label.
    val lutRows = rcb.crossJoin(broadcast(qr))
      .select(col("label") +: col("c") +: (0 until pm).map(j =>
        round(expr(pqSubDistSql("qr", "rce", j, duck = false, pm)), 9)
          .as(s"l$j")): _*)
      .collect()
    def packKey(label: Long, c: Long): Long = {
      require(label >= 0 && label < 100 && c >= 0 && c < 100000,
        s"LUT key packing bound exceeded: label=$label c=$c")
      label * 100000L + c
    }
    val lutMaps: IndexedSeq[Map[Long, Double]] = (0 until pm).map { j =>
      lutRows.map { r =>
        packKey(r.getAs[Number](0).longValue, r.getLong(1)) -> r.getDouble(2 + j)
      }.toMap
    }
    val keyCol = (j: Int) =>
      (col("label") * 100000L + col(s"c$j")).cast("long")
    val joined = codes.join(broadcast(probe.select(col("label"))), Seq("label"))
    val adc = (0 until pm)
      .map(j => element_at(typedLit(lutMaps(j)), keyCol(j)))
      .reduce(_ + _)
    val l2 = emb.crossJoin(broadcast(q0))
      .select(col("vec_id"),
        expr(l2FullSql("embedding", "qe", duck = false)).as("t"))
    joined
      .filter(col("vec_id") =!= qid)
      .select(col("vec_id"), round(adc, 6).as("adc_dist"))
      .join(l2.select(col("vec_id"), round(col("t"), 6).as("true_l2")),
        Seq("vec_id"))
  }

  /** (label, centroid) — the IVF coarse table: 6dp-rounded per-dimension
    * label means (q59's build), shared by q294/q295/q296 and the blocked
    * bitext miner (q335, [[MiningOps]]). */
  private[ops] def ivfCentroids(s: org.apache.spark.sql.SparkSession, dir: String) =
    // registry-cached (OPTIMIZATION_r17): the |labels|-row coarse table
    // is rebuilt from a full posexplode of the embeddings per CALL —
    // q294/q295/q296/q335 and resCodesAnd each paid the corpus aggregate
    CacheRegistry.cache(s, s"ivf-centroids:$dir") {
      embTable(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col").cast("double")).as("v"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), round(col("v"), 6).as("v"))))
          .as("pv"))
        .select(col("label"), expr("transform(pv, x -> x.v)").as("centroid"))
    }

  /** Residual PQ encode: ((vec_id, label, c0..c_{M−1}) code frame,
    * (c, rce) residual codebook). The encode is query-independent —
    * registry-cached per (dir, geometry) exactly like pqCodes, or a
    * multi-query sweep would re-run the N×K aggregate once per query. */
  private def resCodesAnd(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (pm, pk) = pqGeom(s)
    val res = embTable(s, dir).join(broadcast(ivfCentroids(s, dir)), Seq("label"))
      .select(col("vec_id"), col("label"),
        expr("zip_with(embedding, centroid, (a, b) -> CAST(a AS DOUBLE) - b)")
          .as("rv"))
    val rcb = res.filter(col("vec_id") < pk)
      .select(col("vec_id").as("c"), col("rv").as("rce"))
    val m = CacheRegistry.cache(s, s"pq-rescodes:$dir:m=$pm:k=$pk") {
      val d = res.crossJoin(broadcast(rcb))
        .select(col("vec_id") +: col("label") +: col("c") +:
          (0 until pm).map(j =>
            expr(pqSubDistSql("rv", "rce", j, duck = false, pm)).as(s"d$j")): _*)
      d.groupBy(col("vec_id"), col("label"))
        .agg(min(struct(col("d0").as("d"), col("c").as("c"))).as("m0"),
          (1 until pm).map(j =>
            min(struct(col(s"d$j").as("d"), col("c").as("c"))).as(s"m$j")): _*)
    }
    val codes = m.select(col("vec_id") +: col("label") +:
      (0 until pm).map(j => col(s"m$j").getField("c").as(s"c$j")): _*)
    (codes, rcb)
  }

  /** The q293 ADC frame for an arbitrary query vector: (vec_id, adc_dist,
    * true_l2) over every non-query vector — the registered query takes
    * its top-10 for qid 0; ScaleBench's `pq` phase sweeps many qids to
    * measure recall on the clustered/uniform corpus twins. */
  private[graft] def pqAdcFor(s: org.apache.spark.sql.SparkSession,
      dir: String, qid: Long): org.apache.spark.sql.DataFrame = {
    val (pm, _) = pqGeom(s)
    val emb = embTable(s, dir)
    val m = pqCodes(s, dir)
    val codes = m.select(col("vec_id") +:
      (0 until pm).map(j => col(s"m$j").getField("c").as(s"c$j")): _*)
    val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qe"))
    val lut = pqCodebook(s, dir).crossJoin(broadcast(q))
      .select(col("c") +: (0 until pm).map(j =>
        round(expr(pqSubDistSql("qe", "ce", j, duck = false, pm)), 9)
          .as(s"l$j")): _*)
    // M broadcast lookups (the LUT is K rows) + the exact L2 column
    val joined = (0 until pm).foldLeft(codes) { (df, j) =>
      df.join(broadcast(lut.select(col("c").as(s"__c$j"), col(s"l$j"))),
        col(s"c$j") === col(s"__c$j"))
    }
    val adc = (0 until pm).map(j => col(s"l$j")).reduce(_ + _)
    val l2 = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr(l2FullSql("embedding", "qe", duck = false)).as("t"))
    joined
      .filter(col("vec_id") =!= qid)
      .select(col("vec_id"), round(adc, 6).as("adc_dist"))
      .join(l2.select(col("vec_id"), round(col("t"), 6).as("true_l2")),
        Seq("vec_id"))
  }

  /** PQ geometry: M subspaces × (64/M) dims, K codebook entries.
    * `final val` without a type annotation = compile-time constants, so
    * the Q() SQL built inside `qs` (which initializes BEFORE these lines
    * in object-body order) sees 8/64, not the uninitialized 0. */
  /** Default PQ geometry: M subspaces × (64/M) dims, K codebook entries —
    * `final val` (compile-time constants) because the Q() SQL built inside
    * `qs` initializes BEFORE later object-body vals. Conf-gated at runtime
    * via `graft.pq.m` / `graft.pq.k` (the graft.minhash.* pattern):
    * defaults unchanged so the static oracles stay strict, wider
    * geometries are the measured real-recall path — SCALE.md's `pq` table
    * shows rerank-candidate recall 0.71 → 0.85 going (8, 64) → (16, 256)
    * on the clustered corpus at 16× compression.
    *
    * DECISION (round 13, VERDICT r12 item 5): the baked default STAYS
    * (8, 64) even though (16, 256) measures 0.83–0.99 candidate
    * retention, because the oracle family trains its codebooks on the
    * driver-shipped embeddings tables — 500 vectors at sf0.001/sf0.01,
    * 2,000 at sf0.1 — and K=256 centroids per subspace cannot train on
    * 500 points (over half the codebook would be empty/degenerate
    * clusters, making cross-engine k-means parity meaningless and the
    * regenerated oracles noise, not truth). (8, 64) keeps K ≪ N at every
    * test SF. At corpus scale the decision inverts for the same reason —
    * K ≪ N is trivially true — so a deployment sets
    * `graft.pq.m=16`/`graft.pq.k=256` (16 B/vector) and gets the
    * SCALE.md-measured 0.99+ recall ceiling; the knob, not the constant,
    * is the production surface. */
  private[ops] final val PqM = 8
  private[ops] final val PqK = 64

  /** IVF probe width (the deployed recall knob of IVF-PQ): how many
    * nearest coarse lists the query scans. Conf-gated like the geometry
    * (`graft.pq.nprobe`, default 2 — the registered q294/q295 oracles are
    * baked at 2, and Verify guards the default); SCALE.md's nprobe table
    * measures recall/cost at 1/2/4/8 on the clustered corpus twin. */
  private[graft] def pqNprobe(s: org.apache.spark.sql.SparkSession): Int = {
    val np = s.conf.getOption("graft.pq.nprobe").map(_.trim.toInt).getOrElse(2)
    require(np > 0, s"graft.pq.nprobe ($np) must be positive")
    np
  }

  private[graft] def pqGeom(s: org.apache.spark.sql.SparkSession): (Int, Int) = {
    val m = s.conf.getOption("graft.pq.m").map(_.trim.toInt).getOrElse(PqM)
    val k = s.conf.getOption("graft.pq.k").map(_.trim.toInt).getOrElse(PqK)
    require(m > 0 && 64 % m == 0 && k > 0,
      s"graft.pq.m ($m) must divide 64 and graft.pq.k ($k) be positive")
    (m, k)
  }

  /** Full-dimension squared L2 distance as the SAME explicit 64-term sum
    * in both engines — [[pqSubDistSql]] over one subspace spanning all 64
    * dims. The previous Spark side used the dot-product identity
    * (a·a − 2a·q + q·q), which is mathematically equal but not
    * bit-identical IEEE arithmetic to the oracle's squared-diff fold and
    * suffers catastrophic cancellation for near-identical vectors
    * (ADVICE r11): the 6dp-rounded true_l2 and the unrounded probe
    * ordering could diverge between engines on boundary values. A
    * left-associated textual sum evaluates identically in both. */
  private def l2FullSql(a: String, b: String, duck: Boolean): String =
    pqSubDistSql(a, b, 0, duck, m = 1)

  /** The per-subspace squared distance between `vec` and `cb`'s dims
    * [w·j, w·(j+1)) as an explicit w-term sum — generated ONCE for both
    * engines (Duck arrays are 1-based, Spark's 0-based) so the float
    * arithmetic is textually identical. */
  private def pqSubDistSql(vec: String, cb: String, j: Int, duck: Boolean,
      m: Int = PqM): String =
    (0 until 64 / m).map { d =>
      val i = j * (64 / m) + d
      val ix = if (duck) s"[${i + 1}]" else s"[$i]"
      s"(CAST($vec$ix AS DOUBLE) - CAST($cb$ix AS DOUBLE))" +
        s" * (CAST($vec$ix AS DOUBLE) - CAST($cb$ix AS DOUBLE))"
    }.mkString(" + ")

  private def pqCodebook(s: org.apache.spark.sql.SparkSession, dir: String) =
    embTable(s, dir).filter(col("vec_id") < pqGeom(s)._2)
      .select(col("vec_id").as("c"), col("embedding").as("ce"))

  /** (vec_id, m0..m_{M−1}) with m_j = min(struct(d_j, c)) — the encode
    * aggregate, registry-cached (keyed on the geometry) because q292
    * reports it and q293's ADC search consumes it (one codebook broadcast
    * + one N×K map total). */
  private def pqCodes(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val (m, k) = pqGeom(s)
    CacheRegistry.cache(s, s"pq-codes:$dir:m=$m:k=$k") {
      val d = embTable(s, dir).crossJoin(broadcast(pqCodebook(s, dir)))
        .select(col("vec_id") +: col("c") +:
          (0 until m).map(j =>
            expr(pqSubDistSql("embedding", "ce", j, duck = false, m))
              .as(s"d$j")): _*)
      d.groupBy(col("vec_id"))
        .agg(min(struct(col("d0").as("d"), col("c").as("c"))).as("m0"),
          (1 until m).map(j =>
            min(struct(col(s"d$j").as("d"), col("c").as("c"))).as(s"m$j")): _*)
    }
  }

  /** One oracle iteration of the power loop as DuckDB CTEs: d (per-vector
    * dot with the previous direction), w (the matvec), optional
    * Gram–Schmidt deflation against `deflate`'s direction table, the
    * normalizer, and the 9dp-rounded next direction. MATERIALIZED
    * throughout — inlined, DuckDB re-evaluates the whole chain per
    * reference (exponential in rounds). ONE builder shared by the
    * q125/q126/q132 oracles so the DECIMAL/rounding discipline cannot
    * drift between them. */
  private def powerIterCte(prev: String, out: String,
      deflate: Seq[String]): String = {
    // Modified Gram–Schmidt: each projection subtracts from the RUNNING w
    // (w ← w − (w·vt)·vt sequentially per deflation target), matching the
    // Scala loop's foldLeft order exactly — with near-orthogonal targets
    // classical and modified GS differ in the last rounded bits, so the
    // order is part of the cross-engine contract.
    val (wsrc, extra) = deflate.zipWithIndex.foldLeft((s"w_$out", "")) {
      case ((prevW, acc), (vt, k)) =>
        val wNext = s"w${k + 2}_$out"
        (wNext, acc +
          s""",
             |p${k + 1}_$out AS MATERIALIZED (SELECT CAST(sum(CAST(w.w * $vt.v[w.pos] AS DECIMAL(38,12)))
             |      AS DOUBLE) AS p
             |  FROM $prevW w, $vt),
             |$wNext AS MATERIALIZED (SELECT w.pos, w.w - p${k + 1}_$out.p * $vt.v[w.pos] AS w
             |  FROM $prevW w, p${k + 1}_$out, $vt)""".stripMargin)
    }
    s"""d_$out AS MATERIALIZED (SELECT e.vec_id,
       |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * $prev.v[i] AS DECIMAL(38,12)))
       |      AS DOUBLE) AS d
       |  FROM embeddings e, $prev, range(1, 65) t(i)
       |  GROUP BY e.vec_id),
       |w_$out AS MATERIALIZED (SELECT i AS pos,
       |    CAST(sum(CAST(d.d * CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS w
       |  FROM embeddings e JOIN d_$out d USING (vec_id), range(1, 65) t(i)
       |  GROUP BY i)$extra,
       |n_$out AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS n
       |  FROM $wsrc),
       |$out AS MATERIALIZED (SELECT list(round(w / n, 9) ORDER BY pos) AS v
       |  FROM $wsrc, n_$out)""".stripMargin
  }

  /** The v0…v3 undeflated chain + (optionally) the u0…u3 once-deflated
    * and t0…t3 twice-deflated chains — the WITH bodies of the
    * q125/q126/q132/q146 oracles. `directions` ∈ {1, 2, 3}: each
    * successive chain deflates against every previously-found direction
    * (v3, then v3+u3), so chain m converges to the m-th eigendirection. */
  private def powerChainsSql(directions: Int): String = {
    require(directions >= 1 && directions <= 3,
      s"powerChainsSql: $directions directions not in 1..3")
    def chain(name: String, deflate: Seq[String]): String =
      s"""${name}0 AS MATERIALIZED (SELECT list_transform(range(1, 65), i -> CAST(0.125 AS DOUBLE)) AS v),
         |${powerIterCte(s"${name}0", s"${name}1", deflate)},
         |${powerIterCte(s"${name}1", s"${name}2", deflate)},
         |${powerIterCte(s"${name}2", s"${name}3", deflate)}""".stripMargin
    val parts = Seq(
      chain("v", Seq.empty),
      chain("u", Seq("v3")),
      chain("t", Seq("v3", "u3"))).take(directions)
    parts.mkString(",\n")
  }

  /** The 3-round deflated runner-up direction, shared by q126 (its
    * output) and q132 (its second projection axis) through the registry. */
  private def secondDirection(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    CacheRegistry.cache(s, s"q126-u3:$dir") {
      powerLoop(s, embTable(s, dir), 3,
        deflateAgainst = Seq(topDirection(s, dir)))
    }

  /** The 3-round twice-deflated third direction (deflates against BOTH
    * v3 and u3, modified-GS order), registry-shared with q146. */
  private def thirdDirection(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    CacheRegistry.cache(s, s"q146-t3:$dir") {
      powerLoop(s, embTable(s, dir), 3,
        deflateAgainst = Seq(topDirection(s, dir), secondDirection(s, dir)))
    }

  /** The 3-round top principal direction, shared by q125 (its output) and
    * q126 (its deflation target) through the registry — one v-chain per
    * sfDir per session. */
  private def topDirection(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    CacheRegistry.cache(s, s"q125-v3:$dir") {
      powerLoop(s, embTable(s, dir), 3, deflateAgainst = Seq.empty)
    }

  /** [[powerLoop]] over any (vec_id, embedding) frame — ScaleBench drives
    * synthetic corpus sizes through this; the declared queries share
    * chains through the CacheRegistry instead. */
  def powerIterate(vecs: org.apache.spark.sql.DataFrame, rounds: Int)
      : org.apache.spark.sql.DataFrame =
    powerLoop(vecs.sparkSession, vecs, rounds, deflateAgainst = Seq.empty)

  /** [[powerIterate]] with Gram–Schmidt deflation against already-found
    * direction tables — successive eigendirections over any corpus
    * (PowerIterationSpec's planted-spectrum checks drive this; the
    * declared queries share chains through the registry instead). */
  def powerIterateDeflated(vecs: org.apache.spark.sql.DataFrame, rounds: Int,
      deflateAgainst: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame =
    powerLoop(vecs.sparkSession, vecs, rounds, deflateAgainst)

  /** `rounds` of v ← normalize(X'Xv) from the all-0.125 start, every
    * corpus-sized sum through DECIMAL(38,12) (order-independent), the
    * direction 9dp-rounded before re-entering each round. Each frame in
    * `deflateAgainst` Gram–Schmidt-projects the matvec result
    * (w ← w − (w·pv)·pv, sequentially, modified-GS order) before
    * normalizing — the deflation that yields successive eigendirections;
    * deflating against the first m−1 directions converges to the m-th.
    * Returns the 64-row (pos, v) direction table.
    *
    * Round-9 shape (VERDICT r8 task 2): the direction is 64 doubles, so
    * it rides each round as an ARRAY LITERAL (the q132 precedent —
    * bounded driver state, never corpus data). The per-vector dot d then
    * evaluates INLINE over the embedding array — zip_with product, each
    * product cast to DECIMAL(38,12) exactly like the oracle's d CTE, an
    * exact (order-free) higher-order sum — and the matvec is ONE
    * posexplode + 64-group decimal aggregate with d already attached.
    * Per round: one corpus scan, one tiny 64-group shuffle, ZERO joins.
    * The old shape joined a persisted (vec_id, pos, x) explode against
    * the direction table and shuffled corpus-sized partials twice per
    * round (38 combined task-s for q125/q126/q146 at sf0.1). */
  private def powerLoop(s: org.apache.spark.sql.SparkSession,
      vecs0: org.apache.spark.sql.DataFrame, rounds: Int,
      deflateAgainst: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    // Deliberately NOT repartitioned: a 16-way repartition of the small
    // local corpus was measured to RAISE round-1 task time 2.1 → 29 s —
    // the matvec stage's cost is per-task constant (expression-tree
    // bring-up), not per-row, so spreading 6k rows over 16 tasks pays
    // the constant 16×. At cluster scale the scan's own partitioning
    // already parallelizes the rounds.
    val vecs = vecs0
    val decSum = (c: Column) => sum(c.cast("decimal(38,12)")).cast("double")
    // The per-vector dot accumulates at DECIMAL(28,12): the cast back to
    // (28,12) after each add is exact for |sum| < 10^16, far above any
    // |x·v| ≤ 64·max² here — value-identical to the oracle's
    // DECIMAL(38,12) per-product cast + exact sum (see ArrayDotDec).
    import s.implicits._
    // chain scope: round state re-enters as an array LITERAL, so round k
    // never reads round k−1's blocks — keep-2 is conservative here. The
    // deflate pivots are FINAL pins of earlier powerLoop scopes (never
    // pruned), so projecting against them each round stays safe.
    val pinScope = Loops.scope(s)
    var v = (1 to Dim).map(p => (p.toLong, 0.125)).toDF("pos", "v")
    var vArr: Seq[Double] = Seq.fill(Dim)(0.125)
    (1 to rounds).foreach { _ =>
      // typedLit, NOT array(lit, lit, …): 64 scalar double literals
      // inline into the generated source, so every round's otherwise-
      // identical 64-decimal aggregate produces DIFFERENT source and
      // Janino recompiles it per round (the measured 4–6 s first-touch
      // burn, VERDICT r9 item 6). A single ARRAY literal codegens
      // through the references array — bit-identical source every
      // round, so rounds 2…R hit the codegen cache.
      val vLit = typedLit(vArr)
      // the ENTIRE matvec w = X'(Xv) as ONE native imperative aggregate
      // (graft_matvec_dec) — not a posexplode + groupBy(pos) (the
      // optimizer would re-evaluate the dot per EXPLODED row, measured
      // 5× slower) and no longer 64 separate decimal sum columns (which
      // cost ~0.5 s/round of driver analysis, overflowed codegen
      // maxFields into interpreted eval, and allocated a Decimal per
      // row×position — VERDICT r9 item 6). Bit-equal to that shape:
      // DecMatvecSpec pins the per-product HALF_UP casts and exact
      // scale-12 sums. Partials are one 64-entry array per partition —
      // the minimum possible shuffle.
      val w0 = vecs
        .agg(graft.functions.GraftFunctions
          .graft_matvec_dec(col("embedding"), vLit).as("wv"))
        .select(posexplode(col("wv")).as(Seq("p0", "w")))
        .select((col("p0") + 1).cast("long").as("pos"), col("w"))
      // modified Gram–Schmidt: each target projects off the RUNNING w —
      // the same sequential order powerIterCte's oracle CTEs encode
      val w = deflateAgainst.foldLeft(w0) { (wCur, pvt) =>
        val withPv = wCur.join(broadcast(pvt.select(col("pos"), col("v").as("pv"))),
          Seq("pos"))
        val p = withPv.agg(decSum(col("w") * col("pv")).as("p"))
        withPv.crossJoin(broadcast(p))
          .select(col("pos"), (col("w") - col("p") * col("pv")).as("w"))
      }
      val n = w.agg(sqrt(decSum(col("w") * col("w"))).as("n"))
      v = w.crossJoin(broadcast(n))
        .select(col("pos"), round(col("w") / col("n"), 9).as("v"))
        .pin(pinScope) // 64 rows; truncates the per-round lineage
      // next round's literal — the checkpointed values verbatim (collect
      // of a 64-row frame; doubles round-trip bit-exactly)
      vArr = v.orderBy(col("pos")).collect().map(_.getDouble(1)).toSeq
    }
    v
  }
}
