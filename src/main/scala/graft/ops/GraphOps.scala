package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.ops.Loops._

/** Graph operators over the embedding corpus: kNN-graph construction
  * (the structure every graph-based curation step — connectivity pruning,
  * label propagation, PageRank-weighted sampling — starts from) and a
  * distributed PageRank over that graph.
  *
  * Both reuse the vector family's deterministic md5 hyperplanes
  * ([[VectorSearch]]), so the "approximate" neighbor generation is still
  * exactly reproducible in the DuckDB oracle: candidates are pairs whose
  * 6-bit LSH codes differ by Hamming ≤ 1 (the q106 probe set applied
  * symmetrically to every vector at once), never an O(N²) cross join.
  */
object GraphOps {

  import VectorSearch.{NumPlanes, embTable, duckPlaneList, duckDot, DuckCos}

  private val K = 3 // neighbors kept per vector

  /** Degree table of an undirected (u, v) edge frame. */
  private[graft] def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("dg"))

  /** Degree-oriented edges: each undirected edge points from its lower-
    * (degree, id) endpoint — out-degree is then O(√m), the bound that
    * keeps q276's wedge join at O(m^1.5) (ScaleBench "triangles" phase
    * measures the counterfactual Σ deg² blowup this avoids). */
  private[graft] def orientEdges(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg.select(col("id").as("u"), col("dg").as("da")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("dg").as("db")), Seq("v"))
      .select(
        when(col("da") <= col("db"), col("u")).otherwise(col("v")).as("src"),
        when(col("da") <= col("db"), col("v")).otherwise(col("u")).as("dst"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da")).as("ddst"))

  /** (src, v1, v2) wedge pairs of oriented out-edges, dst-ordered by
    * (degree, id) so each unordered out-pair appears once. */
  private[graft] def orientedWedges(oe: DataFrame): DataFrame = {
    val a = oe.select(col("src"), col("dst").as("v1"), col("ddst").as("d1"))
    val b = oe.select(col("src"), col("dst").as("v2"), col("ddst").as("d2"))
    a.join(b, Seq("src"))
      .filter(col("d1") < col("d2") || (col("d1") === col("d2")
        && col("v1") < col("v2")))
  }

  /** Shared oracle prelude: planes → coded → Hamming-≤1 candidate pairs →
    * per-vector top-K by 9dp cosine. MATERIALIZED throughout — every CTE
    * is referenced more than once downstream and DuckDB would otherwise
    * re-evaluate the whole chain per reference. */
  private def duckKnnCtes: String = {
    val planeCols = (0 until NumPlanes)
      .map(j => s"${duckPlaneList(j)} AS p$j").mkString(",\n    ")
    def codeSql(vec: String) = (0 until NumPlanes)
      .map(j => s"(CASE WHEN ${duckDot(vec, s"p$j")} > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    val probeList = ("code" +: (0 until NumPlanes)
      .map(j => s"xor(code, ${1 << j})")).mkString("[", ", ", "]")
    val cosPair =
      """(list_sum(list_transform(range(1, len(x.embedding) + 1),
        |      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(range(1, len(x.embedding) + 1),
        |      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
        |    * sqrt(list_sum(list_transform(range(1, len(y.embedding) + 1),
        |      i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))))""".stripMargin
    s"""p AS (SELECT
       |    $planeCols),
       |coded AS MATERIALIZED (SELECT vec_id, embedding, ${codeSql("embedding")} AS code
       |  FROM embeddings, p),
       |probes AS (SELECT vec_id, embedding, unnest($probeList) AS probe FROM coded),
       |cand AS (SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id,
       |    round($cosPair, 9) AS c
       |  FROM probes x JOIN coded y
       |    ON x.probe = y.code AND x.vec_id <> y.vec_id),
       |ranked AS MATERIALIZED (SELECT vec_id, nbr_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nbr_id) AS rn
       |  FROM cand)""".stripMargin
  }

  /** (vec_id, embedding, code) with an `numPlanes`-bit LSH code — the
    * plane count is the scale knob: ScaleBench grows it with log N so
    * bucket sizes (and thus candidate volume per vector) stay bounded. */
  private[ops] def codedFrame(vecs: DataFrame, numPlanes: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val planes = VectorSearch.planesUpTo(numPlanes)
    val withPlanes = (0 until numPlanes).foldLeft(vecs) { (df, j) =>
      df.withColumn(s"__p$j", array(planes(j).toIndexedSeq.map(lit): _*))
    }
    val code = (0 until numPlanes).map { j =>
      when(expr(s"graft_dot(embedding, __p$j)") > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    withPlanes.select(col("vec_id"), col("embedding"), code.as("code"))
  }

  /** The explode column producing a row per probe: the vector's own code
    * plus its `numPlanes` Hamming-1 flips. ONE definition — the candidate
    * counter and the edge builder must generate identical probe sets. */
  private def flipsCol(numPlanes: Int): Column =
    explode(array((lit(0) +: (0 until numPlanes).map(j => lit(1 << j))): _*))

  /** The shared candidate join: exploded probe side ⋈ coded store on
    * probe = code, self-pairs dropped. Carries through whatever columns
    * each side brought (ids only for counting; embedding+nrm for edges). */
  private def candidateJoin(probes: DataFrame, target: DataFrame): DataFrame =
    probes.as("x").join(target.as("y"),
      col("x.probe") === col("y.code") && col("x.vec_id") =!= col("y.vec_id"))

  /** Hamming-≤1 candidate pairs (vec_id, nbr_id) WITHOUT the cosine — the
    * frame whose cardinality is the graph family's scale quantity
    * (ScaleBench counts it at growing N × growing planes). */
  def knnCandidates(vecs: DataFrame, numPlanes: Int): DataFrame = {
    val coded = codedFrame(vecs, numPlanes).select(col("vec_id"), col("code"))
    val probes = coded.select(col("vec_id"), col("code"), flipsCol(numPlanes).as("flip"))
      .select(col("vec_id"), col("code").bitwiseXOR(col("flip")).as("probe"))
    candidateJoin(probes, coded)
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr_id"))
  }

  /** The kNN edge frame (vec_id, nbr_id, c, rn ≤ k) over any
    * (vec_id, embedding) frame. Candidate generation: each vector's code
    * plus its `numPlanes` Hamming-1 neighbor codes explode to (1 + planes)
    * probe rows, then ONE equi-join on the code — the same shuffle shape
    * as q65/q106, parallelism = the number of occupied buckets. The top-k
    * cut runs on the NARROW (src, dst, cos) projection — embeddings never
    * enter the rank shuffle. At 100 TB the code space widens with the
    * corpus (planes ≈ 6 + log2(N/N0) ⇒ bounded bucket sizes — ScaleBench
    * measures exactly that schedule); the probe-explode equi-join shape is
    * invariant. */
  def knnEdgesFrom(vecs: DataFrame, numPlanes: Int, k: Int = K): DataFrame =
    knnEdgesFromCoded(codedFrame(vecs, numPlanes), numPlanes, k)

  /** [[knnEdgesFrom]] over an ALREADY-CODED (vec_id, embedding, code)
    * frame — the seam the incremental composition reuses: codes are
    * per-vector map-side work a streaming sink lands once per batch, and
    * the rank stage re-reads the accumulated store
    * (StreamingKnnGraphSpec). `probeSide`, when set, restricts WHICH
    * vectors get (re-)ranked while candidates still come from the full
    * `coded` store — the incremental-maintenance rule: after a batch
    * lands, only vectors whose probe set intersects the arrivals' codes
    * need re-ranking, but their neighbors may be anywhere in the store. */
  private[ops] def knnEdgesFromCoded(coded: DataFrame, numPlanes: Int,
      k: Int = K, probeSide: Option[DataFrame] = None): DataFrame = {
    // the family's norm-hoisting discipline (assignToSeeds): each side's
    // self-norm is a per-ROW column computed before the join, so a vector
    // appearing in many candidate pairs never re-runs its 64-dim self-dot
    // per pair; sqrt(x·x)·sqrt(y·y) yields the identical double the
    // per-pair recomputation did, so the oracle is unaffected
    graft.functions.GraftFunctions.register(coded.sparkSession)
    def withNrm(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      col("code"), sqrt(expr("graft_dot(embedding, embedding)")).as("nrm"))
    val target = withNrm(coded)
    val probes = withNrm(probeSide.getOrElse(coded))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("code"),
        flipsCol(numPlanes).as("flip"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("code").bitwiseXOR(col("flip")).as("probe"))
    val pairCos = expr("graft_dot(x.embedding, y.embedding)") /
      (col("x.nrm") * col("y.nrm"))
    val cand = candidateJoin(probes, target)
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr_id"),
        round(pairCos, 9).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("c").desc, col("nbr_id"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** The declared queries' edge frame: NumPlanes bits over the sfDir's
    * embeddings, persisted via [[CacheRegistry]] — q127's verified slice
    * and q128's PageRank both read it. */
  def knnEdges(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cache(s, s"q127-knn:$dir") {
      knnEdgesFrom(embTable(s, dir), NumPlanes)
    }

  /** The classic-teleport 3-round ranks over the kNN graph — q128's whole
    * answer and q147's cold-start prefix. Registry-shared so the warm
    * continuation pays only its 2 incremental rounds, the way q125/q126/
    * q132/q146 share the power-iteration chain (VERDICT r7: q147 was
    * recomputing all 3 cold rounds). The frame is a narrow (vec_id, pr)
    * double per node — trivially cacheable at any corpus size. */
  private def coldPr3(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cache(s, s"graph-coldpr3:$dir") {
      val edges = knnEdges(s, dir)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      pagerank(embTable(s, dir).select(col("vec_id")), edges, rounds = 3)
    }

  /** `rounds` damped PageRank rounds (d = 0.85) over (src, dst) `edges`
    * from the `nodes` (vec_id) universe: contribution = rank/outdeg along
    * edges, exact DECIMAL(38,12) inflow sums, every node re-entering at
    * round(teleport + d·inflow, 9) through a LEFT join so zero-in-degree
    * nodes keep the teleport mass; dangling nodes distribute nothing.
    * Rank state is a NARROW (id, double) frame, localCheckpoint'ed per
    * round. Returns (vec_id, pr). */
  def pagerank(nodes: DataFrame, edges: DataFrame, rounds: Int,
      teleportTo: Option[DataFrame] = None): DataFrame = {
    val (base, step, ps) = prSetup(nodes, edges, teleportTo)
    var pr = base.select(col("vec_id"), col("__pr0").as("pr")).pin(ps)
    (1 to rounds).foreach(_ => pr = step(pr))
    pr
  }

  /** Shared PageRank machinery: the checkpointed (vec_id, __tele, __pr0)
    * node base and the one-round transition pr → pr' (the exact recurrence
    * [[pagerank]] has always run — extracting it changes nothing the
    * q128/q133 oracles observe). */
  private def prSetup(nodes: DataFrame, edges: DataFrame,
      teleportTo: Option[DataFrame])
      : (DataFrame, DataFrame => DataFrame, Loops.PinScope) = {
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e2 = edges.join(outd, Seq("src"))
    val decSum = (c: Column) => sum(c.cast("decimal(38,12)")).cast("double")
    // teleport distribution: uniform over all nodes (classic), or over the
    // query set S (personalized — mass restarts INSIDE S, so rank measures
    // structural proximity to S). Both scalars are bounded driver counts.
    val flagged = teleportTo match {
      case None =>
        val n = nodes.count()
        require(n > 0, "pagerank: nodes frame is empty — 0.15/n would be Infinity")
        nodes.select(col("vec_id"), lit(0.15 / n).as("__tele"),
          round(lit(1.0 / n), 9).as("__pr0"))
      case Some(qset) =>
        val m = qset.count()
        require(m > 0, "pagerank: personalized teleport set is empty — 1.0/m would be Infinity")
        nodes.join(qset.select(col("vec_id"), lit(true).as("__in")),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("__in"), lit(0.15 / m)).otherwise(lit(0.0)).as("__tele"),
            when(col("__in"), round(lit(1.0 / m), 9)).otherwise(lit(0.0)).as("__pr0"))
    }
    // base feeds EVERY round's left join — an anchor pin (never pruned
    // mid-loop); the rank chain prunes round k−1 once round k is pinned
    val base = flagged.pin()
    val ps = Loops.scope(nodes.sparkSession)
    val step = (pr: DataFrame) => {
      val contrib = e2.join(pr.withColumnRenamed("vec_id", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(decSum(col("pr") / col("outdeg")).as("s"))
        .withColumnRenamed("dst", "vec_id")
      base.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          round(col("__tele") + lit(0.85) * coalesce(col("s"), lit(0.0)), 9).as("pr"))
        .pin(ps) // narrow N-row state; keeps per-round lineage flat
    }
    (base, step, ps)
  }

  /** Incremental-maintenance PageRank: iterate the [[pagerank]] recurrence
    * until the max per-node delta is ≤ `tol` (or `maxRounds`), optionally
    * WARM-STARTED from a previous converged (vec_id, pr) state. The fixed
    * point of the damped recurrence does not depend on the start vector,
    * so after a batch of edge arrivals the previous ranks are a valid —
    * and much closer — initial state: new nodes enter at their cold-start
    * rank (LEFT join + coalesce), carried nodes keep their old mass, and
    * the loop runs only the rounds the perturbation actually needs. The
    * per-round convergence probe is one bounded scalar aggregate (max
    * |Δpr|) over the narrow rank frame — the same shape as the loop's own
    * work, nothing driver-sided beyond the scalar. Returns the converged
    * ranks and the number of rounds consumed. */
  def pagerankUntil(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
      tol: Double, init: Option[DataFrame] = None,
      teleportTo: Option[DataFrame] = None): (DataFrame, Int) = {
    require(maxRounds >= 1, s"pagerankUntil: maxRounds $maxRounds < 1")
    val (base, step, ps) = prSetup(nodes, edges, teleportTo)
    var pr = (init match {
      case Some(prev) =>
        base.join(prev.select(col("vec_id"), col("pr").as("__warm")),
            Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("__warm"), col("__pr0")).as("pr"))
      case None => base.select(col("vec_id"), col("__pr0").as("pr"))
    }).pin(ps)
    var rounds = 0
    var delta = Double.MaxValue
    while (rounds < maxRounds && delta > tol) {
      val next = step(pr)
      // max() over zero rows is NULL (reachable with a personalized
      // teleport set over an empty node universe — the classic-teleport
      // path already fails fast in prSetup): treat as converged
      val row = next.join(pr.withColumnRenamed("pr", "__prev"), Seq("vec_id"))
        .agg(max(abs(col("pr") - col("__prev"))))
        .first()
      delta = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      pr = next
      rounds += 1
    }
    (pr, rounds)
  }

  val qs: Seq[Q] = Seq(

    // ---- kNN graph: top-3 neighbors per vector, LSH-blocked ----
    // The all-vectors generalization of q106's single-query probe: every
    // vector probes its own bucket plus the 6 Hamming-1 buckets, candidates
    // come from one equi-join on the probed code, and the per-vector top-3
    // cut ranks the narrow (src, dst, cos) frame — a row_number window
    // partitioned on the HIGH-CARDINALITY vec_id (parallelism grows with
    // the corpus, unlike a global sort). Cosines are 9dp-rounded BEFORE
    // ranking with nbr_id tiebreak, so both engines pick identical
    // neighbor sets. Verified slice: vec_id < 200 (the driver's hasher
    // needs a bounded frame); q128 consumes the unbounded edge frame.
    Q("q127_knn_graph", {
      s"""WITH $duckKnnCtes
         |SELECT vec_id, nbr_id, CAST(rn AS BIGINT) AS rank, round(c, 6) AS cos_sim
         |FROM ranked
         |WHERE rn <= $K AND vec_id < 200
         |ORDER BY vec_id, rank""".stripMargin
    }) { (s, dir) =>
      knnEdges(s, dir)
        .filter(col("vec_id") < 200)
        .select(col("vec_id"), col("nbr_id"), col("rn").cast("bigint").as("rank"),
          round(col("c"), 6).as("cos_sim"))
        .orderBy(col("vec_id"), col("rank"))
    },

    // ---- distributed PageRank over the kNN graph ----
    // 3 damped rounds (d = 0.85) of the Pregel-shape loop: contribution =
    // rank/outdeg flows along edges (equi-join on src), lands in a groupBy
    // on dst through exact DECIMAL(38,12) sums (partial-aggregation order
    // cannot wiggle a bit), and every node — including the ones with no
    // in-edges — re-enters at round(teleport + d·inflow, 9) via a LEFT
    // join from the node table. Dangling nodes (no out-edges) simply
    // distribute nothing, mirrored in both engines. Per round at 100 TB:
    // the corpus-sized frames are all NARROW (id, double) — the edge
    // frame is built once and reused, rank state is localCheckpoint'ed so
    // lineage stays flat, and nothing ever shuffles an embedding. The
    // teleport scalar 0.15/N derives from one bounded count on each side.
    Q("q128_pagerank", {
      def iterSql(prev: String, i: Int): String =
        s"""c$i AS MATERIALIZED (SELECT e.dst AS vec_id,
           |    CAST(sum(CAST(p.pr / e.outdeg AS DECIMAL(38,12))) AS DOUBLE) AS s
           |  FROM e2 e JOIN $prev p ON e.src = p.vec_id
           |  GROUP BY e.dst),
           |pr$i AS MATERIALIZED (SELECT n.vec_id,
           |    round(nn.tele + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE)), 9) AS pr
           |  FROM nodes n LEFT JOIN c$i c USING (vec_id), nn)""".stripMargin
      s"""WITH $duckKnnCtes,
         |edges AS MATERIALIZED (SELECT vec_id AS src, nbr_id AS dst
         |  FROM ranked WHERE rn <= $K),
         |outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |e2 AS MATERIALIZED (SELECT e.src, e.dst, o.outdeg
         |  FROM edges e JOIN outd o USING (src)),
         |nodes AS MATERIALIZED (SELECT vec_id FROM embeddings),
         |nn AS MATERIALIZED (SELECT
         |    CAST(0.15 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS tele,
         |    round(CAST(1.0 AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS pr0
         |  FROM nodes),
         |pr0 AS MATERIALIZED (SELECT vec_id, nn.pr0 AS pr FROM nodes, nn),
         |${iterSql("pr0", 1)},
         |${iterSql("pr1", 2)},
         |${iterSql("pr2", 3)}
         |SELECT vec_id, round(pr, 6) AS pagerank
         |FROM pr3
         |ORDER BY pr DESC, vec_id
         |LIMIT 20""".stripMargin
    }) { (s, dir) =>
      coldPr3(s, dir)
        .select(col("vec_id"), round(col("pr"), 6).as("pagerank"))
        .orderBy(col("pr").desc, col("vec_id"))
        .limit(20)
    },

    // ---- label propagation over the kNN graph ----
    // The semi-supervised labeler a curation pipeline runs when a small
    // audited subset carries trusted labels (here: vec_id < 100 keep their
    // `label`) and the rest must inherit them through embedding-space
    // structure: 2 rounds of neighbor majority vote along the kNN edges.
    // Every step is INTEGER arithmetic — vote counts with (count DESC,
    // label ASC) tiebreak, unlabeled neighbors abstain, seeds never
    // change, a vector with no labeled neighbor keeps its previous state
    // (NULL until a vote reaches it) — so cross-engine parity needs no
    // rounding discipline at all. Per round at 100 TB: one equi-join of
    // the narrow (src, dst) edge frame against the (id, label) state, a
    // (vec_id, label)-keyed count, and a row_number cut on the
    // high-cardinality vec_id — the same Pregel shape as q128 with votes
    // instead of mass. Output: propagated vs true label per vector.
    Q("q130_label_prop", {
      def voteSql(prev: String, i: Int): String =
        s"""v$i AS (SELECT e.vec_id, l.lab, count(*) AS n
           |  FROM knn e JOIN $prev l ON l.vec_id = e.nbr_id
           |  WHERE l.lab IS NOT NULL
           |  GROUP BY e.vec_id, l.lab),
           |b$i AS (SELECT vec_id, lab,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY n DESC, lab) AS rn
           |  FROM v$i),
           |lab$i AS MATERIALIZED (SELECT p.vec_id,
           |    CASE WHEN p.vec_id < 100 THEN p.lab
           |         ELSE coalesce(b.lab, p.lab) END AS lab
           |  FROM $prev p LEFT JOIN (SELECT vec_id, lab FROM b$i WHERE rn = 1) b
           |    USING (vec_id))""".stripMargin
      s"""WITH $duckKnnCtes,
         |knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM ranked WHERE rn <= $K),
         |lab0 AS MATERIALIZED (SELECT vec_id,
         |    CASE WHEN vec_id < 100 THEN label END AS lab
         |  FROM embeddings),
         |${voteSql("lab0", 1)},
         |${voteSql("lab1", 2)}
         |SELECT l.vec_id, l.lab AS prop_label, e.label AS true_label
         |FROM lab2 l JOIN embeddings e USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val knn = knnEdges(s, dir).select(col("vec_id"), col("nbr_id"))
      val ps = Loops.scope(s)
      var lab = emb.select(col("vec_id"),
          when(col("vec_id") < 100, col("label")).as("lab"))
        .pin(ps)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("n").desc, col("lab"))
      (1 to 2).foreach { _ =>
        val votes = knn
          .join(lab.select(col("vec_id").as("nbr_id"), col("lab")), Seq("nbr_id"))
          .filter(col("lab").isNotNull)
          .groupBy(col("vec_id"), col("lab")).agg(count(lit(1)).as("n"))
        val winner = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("lab").as("win"))
        lab = lab.join(winner, Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("vec_id") < 100, col("lab"))
              .otherwise(coalesce(col("win"), col("lab"))).as("lab"))
          .pin(ps) // narrow (id, label) state per round
      }
      lab.join(emb.select(col("vec_id"), col("label").as("true_label")), Seq("vec_id"))
        .select(col("vec_id"), col("lab").as("prop_label"), col("true_label"))
        .orderBy(col("vec_id"))
    },

    // ---- connected components over the mutual-kNN graph ----
    // The embedding-space sibling of q72's near-dup clustering, composing
    // two existing machines in the standard density-based grouping recipe:
    // keep an edge only when BOTH endpoints rank each other in their top-3
    // (mutual kNN suppresses hub vectors that appear in everyone's list)
    // AND the 9dp pair cosine clears τ = 0.3, then run the conf-gated
    // distributed CC engine (pointer doubling / star contraction — the
    // same O(log diameter) loop, isolated session, localCheckpoint
    // hygiene) and emit q72's shape: component id = min member, size,
    // keeper flag. The mutualization is one self-join of the NARROW
    // (src, dst, cos) edge frame on the reversed key — nothing corpus-
    // wide beyond what q127 already built, and the CC loop shuffles only
    // (node, label) rows. Oracle: same recursive-CTE reachability as q72.
    Q("q131_knn_components", {
      s"""WITH RECURSIVE $duckKnnCtes,
         |knn AS MATERIALIZED (SELECT vec_id, nbr_id, c FROM ranked WHERE rn <= $K),
         |mutual AS MATERIALIZED (SELECT x.vec_id AS a, x.nbr_id AS b
         |  FROM knn x JOIN knn y ON x.vec_id = y.nbr_id AND x.nbr_id = y.vec_id
         |  WHERE x.vec_id < x.nbr_id AND x.c >= 0.3),
         |edges AS (SELECT a, b FROM mutual
         |  UNION ALL SELECT b AS a, a AS b FROM mutual),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc)
         |SELECT c.doc AS vec_id, c.cluster_id,
         |  CAST(m.n AS BIGINT) AS cluster_size,
         |  (c.doc = c.cluster_id) AS is_keeper
         |FROM comp c
         |JOIN (SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id) m
         |  USING (cluster_id)
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val knn = knnEdges(s, dir).select(col("vec_id"), col("nbr_id"), col("c"))
      val mutual = knn.as("x").join(knn.as("y"),
          col("x.vec_id") === col("y.nbr_id") && col("x.nbr_id") === col("y.vec_id"))
        .filter(col("x.vec_id") < col("x.nbr_id") && col("x.c") >= 0.3)
        .select(col("x.vec_id").as("doc_a"), col("x.nbr_id").as("doc_b"))
      // star contraction, not the pointer-doubling default: this corpus's
      // mutual graph is one giant long-chain component (SCALE.md "Mutual-
      // kNN components"), the regime where large/small-star converges
      // ~2.6x faster (measured 4.8-6.6 s vs 12.4-15.4 s at sf0.1);
      // identical output either way (ClusterSpec).
      TextDedup.clusterPairsStar(s, mutual)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy(col("vec_id"))
    },

    // ---- personalized PageRank: retrieval expansion from a seed set ----
    // q128's loop with the teleport distribution concentrated on a query
    // set S (the audited label-0 vectors among the first 100): restart
    // mass re-enters INSIDE S every round, so the stationary-ish rank
    // after 3 rounds measures structural proximity to S through the kNN
    // graph — the classic graph-expansion step for "find more like these"
    // curation (seed documents → related corpus slices). Identical plan
    // shape and DECIMAL/9dp discipline as q128; the only new state is the
    // per-node teleport column derived from one bounded |S| count. Top-20
    // excluding S itself (the interesting rows are the EXPANSION).
    Q("q133_personalized_pagerank", {
      def iterSql(prev: String, i: Int): String =
        s"""c$i AS MATERIALIZED (SELECT e.dst AS vec_id,
           |    CAST(sum(CAST(p.pr / e.outdeg AS DECIMAL(38,12))) AS DOUBLE) AS s
           |  FROM e2 e JOIN $prev p ON e.src = p.vec_id
           |  GROUP BY e.dst),
           |pr$i AS MATERIALIZED (SELECT n.vec_id,
           |    round(n.tele + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE)), 9) AS pr
           |  FROM base n LEFT JOIN c$i c USING (vec_id))""".stripMargin
      s"""WITH $duckKnnCtes,
         |edges AS MATERIALIZED (SELECT vec_id AS src, nbr_id AS dst
         |  FROM ranked WHERE rn <= $K),
         |outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |e2 AS MATERIALIZED (SELECT e.src, e.dst, o.outdeg
         |  FROM edges e JOIN outd o USING (src)),
         |qset AS MATERIALIZED (SELECT vec_id FROM embeddings
         |  WHERE label = 0 AND vec_id < 100),
         |mm AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS m FROM qset),
         |base AS MATERIALIZED (SELECT e.vec_id,
         |    CASE WHEN q.vec_id IS NOT NULL
         |      THEN CAST(0.15 AS DOUBLE) / mm.m ELSE CAST(0.0 AS DOUBLE) END AS tele,
         |    CASE WHEN q.vec_id IS NOT NULL
         |      THEN round(CAST(1.0 AS DOUBLE) / mm.m, 9) ELSE CAST(0.0 AS DOUBLE) END AS pr
         |  FROM embeddings e LEFT JOIN qset q USING (vec_id), mm),
         |pr0 AS MATERIALIZED (SELECT vec_id, pr FROM base),
         |${iterSql("pr0", 1)},
         |${iterSql("pr1", 2)},
         |${iterSql("pr2", 3)}
         |SELECT p.vec_id, round(p.pr, 6) AS ppr
         |FROM pr3 p LEFT JOIN qset q USING (vec_id)
         |WHERE q.vec_id IS NULL
         |ORDER BY p.pr DESC, p.vec_id
         |LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val edges = knnEdges(s, dir)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      val qset = emb.filter(col("label") === 0 && col("vec_id") < 100)
        .select(col("vec_id"))
      pagerank(emb.select(col("vec_id")), edges, rounds = 3,
          teleportTo = Some(qset))
        .join(qset, Seq("vec_id"), "left_anti")
        .orderBy(col("pr").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("pr"), 6).as("ppr"))
    },

    // ---- cosine-weighted label propagation ----
    // q130's majority vote with each neighbor's vote weighted by the
    // 9dp-rounded edge cosine instead of 1: the winner per vector is the
    // label with the LARGEST exact DECIMAL(38,12) weight sum, ties broken
    // by the smaller label — weight sums of 9dp values are exact in both
    // engines, so the comparison (and therefore every propagation
    // decision) is still bit-deterministic. Same narrow Pregel shape; the
    // vote aggregate carries one DECIMAL per (vector, candidate label).
    Q("q134_weighted_label_prop", {
      def voteSql(prev: String, i: Int): String =
        s"""v$i AS (SELECT e.vec_id, l.lab,
           |    sum(CAST(e.c AS DECIMAL(38,12))) AS wv
           |  FROM knn e JOIN $prev l ON l.vec_id = e.nbr_id
           |  WHERE l.lab IS NOT NULL
           |  GROUP BY e.vec_id, l.lab),
           |b$i AS (SELECT vec_id, lab,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY wv DESC, lab) AS rn
           |  FROM v$i),
           |lab$i AS MATERIALIZED (SELECT p.vec_id,
           |    CASE WHEN p.vec_id < 100 THEN p.lab
           |         ELSE coalesce(b.lab, p.lab) END AS lab
           |  FROM $prev p LEFT JOIN (SELECT vec_id, lab FROM b$i WHERE rn = 1) b
           |    USING (vec_id))""".stripMargin
      s"""WITH $duckKnnCtes,
         |knn AS MATERIALIZED (SELECT vec_id, nbr_id, c FROM ranked WHERE rn <= $K),
         |lab0 AS MATERIALIZED (SELECT vec_id,
         |    CASE WHEN vec_id < 100 THEN label END AS lab
         |  FROM embeddings),
         |${voteSql("lab0", 1)},
         |${voteSql("lab1", 2)}
         |SELECT l.vec_id, l.lab AS prop_label, e.label AS true_label
         |FROM lab2 l JOIN embeddings e USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val knn = knnEdges(s, dir).select(col("vec_id"), col("nbr_id"), col("c"))
      val ps = Loops.scope(s)
      var lab = emb.select(col("vec_id"),
          when(col("vec_id") < 100, col("label")).as("lab"))
        .pin(ps)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("wv").desc, col("lab"))
      (1 to 2).foreach { _ =>
        val votes = knn
          .join(lab.select(col("vec_id").as("nbr_id"), col("lab")), Seq("nbr_id"))
          .filter(col("lab").isNotNull)
          .groupBy(col("vec_id"), col("lab"))
          .agg(sum(col("c").cast("decimal(38,12)")).as("wv"))
        val winner = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("lab").as("win"))
        lab = lab.join(winner, Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("vec_id") < 100, col("lab"))
              .otherwise(coalesce(col("win"), col("lab"))).as("lab"))
          .pin(ps)
      }
      lab.join(emb.select(col("vec_id"), col("label").as("true_label")), Seq("vec_id"))
        .select(col("vec_id"), col("lab").as("prop_label"), col("true_label"))
        .orderBy(col("vec_id"))
    },

    // ---- warm-started PageRank continuation, oracle-checked ----
    // The q128 recurrence run 3 cold rounds, then handed to
    // [[pagerankUntil]] as a warm start for 2 more (tol = 0). The fixed
    // point is start-independent, so the warm path must land bit-identical
    // to 5 straight recurrence rounds — which is exactly what the oracle
    // derives (pr0…pr5), making the incremental-maintenance engine's
    // warm-entry join + convergence probe strict-checkable rather than
    // spec-only (StreamingPageRankSpec covers the edge-arrival story; this
    // pins the arithmetic). tol = 0 can only stop early at an EXACT fixed
    // point, where extra rounds are no-ops — identity is preserved either
    // way. Scale shape identical to q128: narrow (id, double) state, one
    // bounded scalar probe per warm round. Top-20 by rank.
    Q("q147_pagerank_warm", {
      def iterSql(prev: String, i: Int): String =
        s"""c$i AS MATERIALIZED (SELECT e.dst AS vec_id,
           |    CAST(sum(CAST(p.pr / e.outdeg AS DECIMAL(38,12))) AS DOUBLE) AS s
           |  FROM e2 e JOIN $prev p ON e.src = p.vec_id
           |  GROUP BY e.dst),
           |pr$i AS MATERIALIZED (SELECT n.vec_id,
           |    round(nn.tele + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE)), 9) AS pr
           |  FROM nodes n LEFT JOIN c$i c USING (vec_id), nn)""".stripMargin
      s"""WITH $duckKnnCtes,
         |edges AS MATERIALIZED (SELECT vec_id AS src, nbr_id AS dst
         |  FROM ranked WHERE rn <= $K),
         |outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |e2 AS MATERIALIZED (SELECT e.src, e.dst, o.outdeg
         |  FROM edges e JOIN outd o USING (src)),
         |nodes AS MATERIALIZED (SELECT vec_id FROM embeddings),
         |nn AS MATERIALIZED (SELECT
         |    CAST(0.15 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS tele,
         |    round(CAST(1.0 AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS pr0
         |  FROM nodes),
         |pr0 AS MATERIALIZED (SELECT vec_id, nn.pr0 AS pr FROM nodes, nn),
         |${iterSql("pr0", 1)},
         |${iterSql("pr1", 2)},
         |${iterSql("pr2", 3)},
         |${iterSql("pr3", 4)},
         |${iterSql("pr4", 5)}
         |SELECT vec_id, round(pr, 6) AS pagerank
         |FROM pr5
         |ORDER BY pr DESC, vec_id
         |LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val edges = knnEdges(s, dir)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      val nodes = embTable(s, dir).select(col("vec_id"))
      val (warm, _) = pagerankUntil(nodes, edges, maxRounds = 2, tol = 0.0,
        init = Some(coldPr3(s, dir)))
      warm.select(col("vec_id"), round(col("pr"), 6).as("pagerank"))
        .orderBy(col("pr").desc, col("vec_id"))
        .limit(20)
    },

    // ---- ANN recall@k, evaluated in-engine ----
    // The index-quality audit as a first-class query (SCALE.md's recall
    // curves, operationalized): for a 20-query sample, exact cosine top-3
    // (ground truth) vs the q127 LSH multi-probe top-3, recall = |∩|/3
    // per query plus the ALL row. Ground truth is the honest cost of
    // evaluation — the corpus crossed with the BROADCAST query sample,
    // ranked per query; the per-query window funnels N·20 candidate rows
    // through 20 partitions, which is the deliberate price of exactness
    // over a BOUNDED query sample (the index being audited is what makes
    // full-corpus exact ranking unnecessary in production). Both sides
    // rank 9dp-rounded cosines with id tiebreaks, so the compared sets
    // are deterministic.
    Q("q278_ann_recall", {
      s"""WITH $duckKnnCtes,
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id < 20),
         |ex AS (SELECT qid, vec_id AS nbr, row_number() OVER (
         |    PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
         |  FROM (SELECT q.qid AS qid, e.vec_id AS vec_id,
         |      round($DuckCos, 9) AS c
         |    FROM embeddings e, qs q WHERE e.vec_id <> q.qid) t),
         |ann AS (SELECT vec_id AS qid, nbr_id AS nbr FROM ranked
         |  WHERE rn <= $K AND vec_id < 20),
         |hit AS (SELECT e.qid AS qid, count(a.nbr) AS n_hit
         |  FROM ex e LEFT JOIN ann a ON a.qid = e.qid AND a.nbr = e.nbr
         |  WHERE e.rn <= $K
         |  GROUP BY 1),
         |per AS (SELECT qid, round(n_hit * 1.0 / $K, 6) AS recall FROM hit)
         |SELECT CAST(qid AS BIGINT) AS qid, recall FROM per
         |UNION ALL
         |SELECT -1, round(avg(recall), 6) FROM per
         |ORDER BY qid""".stripMargin
    }) { (s, dir) =>
      val emb = embTable(s, dir)
      val qs = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          sqrt(expr("graft_dot(embedding, embedding)")).as("qn"))
      val cand = emb.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nbr"),
          round(expr("graft_dot(embedding, qe)")
            / (sqrt(expr("graft_dot(embedding, embedding)")) * col("qn")), 9)
            .as("c"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("c").desc, col("nbr"))
      val ex = cand.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= K).select(col("qid"), col("nbr"))
      val ann = knnEdges(s, dir).filter(col("rn") <= K && col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("nbr_id").as("nbr"),
          lit(1L).as("hitmark"))
      val per = ex.join(ann, Seq("qid", "nbr"), "left")
        .groupBy(col("qid"))
        .agg(round(count(col("hitmark")) * lit(1.0) / K, 6).as("recall"))
      per.select(col("qid").cast("long").as("qid"), col("recall"))
        .unionAll(per.agg(round(avg(col("recall")), 6).as("recall"))
          .select(lit(-1L).as("qid"), col("recall")))
        .orderBy(col("qid"))
    },

    // ---- triangle count + global clustering coefficient ----
    // The remaining classic distributed-graph statistic over the q127
    // kNN graph: exact triangles via the DEGREE-ORIENTED join — every
    // undirected edge points from its lower-(degree, id) endpoint to the
    // higher, wedges pair two out-edges of the same source ordered by the
    // dsts' (degree, id), and the closing edge lookup is one more keyed
    // hash join. The orientation is what makes this scale: out-degrees
    // are bounded by O(√m), so wedge fanout is O(m^1.5) worst-case
    // instead of Σ deg² — the textbook bound — and every step is an
    // equi-join or map-side-combined count, no broadcast of the graph.
    // Global coefficient = 3·triangles / wedges, with Σ deg(deg−1) kept
    // integer to the end (each term is even, so halving stays exact).
    Q("q276_triangles", {
      s"""WITH $duckKnnCtes,
         |e AS (SELECT DISTINCT least(vec_id, nbr_id) AS u,
         |    greatest(vec_id, nbr_id) AS v
         |  FROM ranked WHERE rn <= $K),
         |deg AS (SELECT id, count(*) AS dg
         |  FROM (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e) t
         |  GROUP BY 1),
         |oe AS (SELECT
         |    CASE WHEN da.dg <= db.dg THEN e.u ELSE e.v END AS src,
         |    CASE WHEN da.dg <= db.dg THEN e.v ELSE e.u END AS dst,
         |    CASE WHEN da.dg <= db.dg THEN db.dg ELSE da.dg END AS ddst
         |  FROM e JOIN deg da ON da.id = e.u JOIN deg db ON db.id = e.v),
         |tri AS (SELECT count(*) AS n_tri
         |  FROM oe a JOIN oe b ON a.src = b.src
         |    AND (a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst))
         |  JOIN oe c ON c.src = a.dst AND c.dst = b.dst),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |nd AS (SELECT count(*) AS n_nodes,
         |    sum(dg * (dg - 1)) // 2 AS n_wedges
         |  FROM deg)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(n_wedges AS BIGINT) AS n_wedges,
         |  CAST(n_tri AS BIGINT) AS n_triangles,
         |  CASE WHEN n_wedges = 0 THEN NULL
         |    ELSE round(3.0 * n_tri / n_wedges, 6) END AS global_cc
         |FROM nd, ne, tri""".stripMargin
    }) { (s, dir) =>
      // Two frames are cached because this plan reads each more than
      // once: the edge set feeds the degrees, the orientation join and
      // the edge count; the oriented edges feed the wedge generation and
      // the closing join. Cold at sf0.1 on 4 cores, caching neither cost
      // +1.5 s wall and +5.6 cpu-s. The degree table (read by the
      // orientation join and the wedge total) showed no gain from a cache.
      val e = CacheRegistry.cache(s, s"q276-edges:$dir") {
        knnEdges(s, dir).filter(col("rn") <= K)
          .select(least(col("vec_id"), col("nbr_id")).as("u"),
            greatest(col("vec_id"), col("nbr_id")).as("v"))
          .distinct()
      }
      val deg = degrees(e)
      val oe = CacheRegistry.cache(s, s"q276-oriented:$dir")(orientEdges(e, deg))
      val wedges = orientedWedges(oe)
      val closing = oe.select(col("src").as("v1"), col("dst").as("v2"))
      val tri = wedges.join(closing, Seq("v1", "v2"))
        .agg(count(lit(1)).as("n_tri"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      val nd = deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("dg") * (col("dg") - 1)) / 2).cast("long").as("n_wedges"))
      nd.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
        .select(col("n_nodes").cast("long").as("n_nodes"),
          col("n_edges").cast("long").as("n_edges"),
          col("n_wedges"),
          col("n_tri").cast("long").as("n_triangles"),
          when(col("n_wedges") === 0, lit(null))
            .otherwise(round(lit(3.0) * col("n_tri") / col("n_wedges"), 6))
            .as("global_cc"))
    }
  )
}
