package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.oracled
import graft.plans.Fixpoint
import graft.sources.Tables

/** Iterative graph analytics over the co-rating affinity graph (the same
  * user-user graph q138's triangle counting runs on): fixed-point
  * PageRank and multi-source BFS shortest paths. The reference has no
  * graph surface at all (SURVEY.md §2.2) — these are the two iterative
  * primitives a complete engine needs beyond connected components
  * ([[Dedup.connectedComponents]]): importance ranking and reachability
  * distance.
  *
  * Scale posture shared by both: the edge table is derived once per data
  * dir (memoized + localCheckpoint'd, like the q47 pair table), every
  * iteration is ONE equi-join edges⋈labels plus ONE aggregate (both
  * partial-aggregated shuffles on the node key), and per-round
  * localCheckpoint keeps the lineage O(1) instead of growing with the
  * iteration count — the discipline GraphX uses at cluster scale. No
  * driver-side data path: only scalar counts (N, frontier size) cross
  * the driver.
  *
  * Determinism: PageRank runs in FIXED-POINT integer arithmetic
  * (rank scaled by 1e12, floor division) so every operation is an exact
  * BIGINT op — associative, order-independent, bit-identical between
  * Spark's distributed sums and DuckDB's serial ones. No doubles, no
  * rounding policy, no ulp drift: the oracle is the SAME recurrence
  * unrolled as a plain CTE chain, two genuinely different formulations
  * (iterative loop vs declarative unroll) of one integer fixpoint.
  */
object Graph {

  /** Rank fixed-point scale: 1 "unit" of PageRank mass = 1e12. Chosen so
    * 85 * total mass (the largest intermediate, ~8.5e13) stays far below
    * 2^63 while floor-division loss per step stays below 1e-12 of mass.
    */
  private val Scale = 1000000000000L

  /** Co-rating affinity threshold — same as q138 (users sharing >= 14
    * distinct (item, rating) agreements form an edge).
    */
  private val MinShared = 14

  /** Per-(item, rating) user-list cap, applied BEFORE the pair
    * self-join (VERDICT r10 #1): the edge build enumerates every user
    * pair within each (item, rating) group — Σ group² — so one hot item
    * at 100 TB is 10¹²⁺ pairs unless the group is bounded. Groups above
    * the cap keep a deterministic HASH-ORDERED sample of exactly
    * `CoRatingGroupCap` users (rank by the q184 overflow-safe Knuth
    * hash, ties by user_id — a seedless pseudo-random sample, not a
    * lowest-id bias); groups at or below the cap pass through
    * untouched, so at the oracle fixtures (max group 223 at sf0.1,
    * well under the default 500) the build is bit-identical to the
    * uncapped one. The SAME cap + ranking runs in the oracle CTE
    * ([[edgesCte]]), so even WHEN the cap bites (the 10× bench fixture
    * has groups up to 2230) Spark and DuckDB agree exactly — the cap is
    * part of the operator's declared semantics, not a silent
    * approximation. Cost after the cap: Σ min(group, cap)² ≤
    * #groups·cap² — linear in distinct (item, rating) keys, flat in
    * users-per-group. Surfaced via -Dgraft.coRating.groupCap /
    * GRAFT_CO_RATING_GROUP_CAP (see [[capSetting]]); the no-silent-caps
    * rule logs loudly whenever a group is actually truncated.
    */
  private[graft] val CoRatingGroupCap: Long =
    capSetting("graft.coRating.groupCap", "GRAFT_CO_RATING_GROUP_CAP", 500L)

  /** Reads one of this file's caps from -D`prop`, else env `env`, else
    * `default`. Each cap is read once at class init, so the Spark build
    * and every oracle string stay in lockstep. A cap must be a positive
    * integer: a cap of 0 would silently empty the graph it bounds.
    */
  private[graft] def capSetting(prop: String, env: String, default: Long): Long =
    sys.props.get(prop).orElse(sys.env.get(env)).fold(default) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(
        sys.error(s"$prop / $env must be a positive integer, got '$v'"))
    }

  /** Deterministic hash-ordered truncation of each (item_id, rating)
    * user list to `cap` rows — the [[CoRatingGroupCap]] mechanism,
    * factored out so GraphSpec can prove the sample law on synthetic
    * groups (cap ≥ group size ⇒ identity; cap < group size ⇒ exactly
    * the cap-smallest rows under the (hash, user_id) total order —
    * user_id is unique within a group, so the order has no ties and
    * the kept set is determined by the DATA alone, not partitioning).
    */
  private[graft] def capGroups(r: DataFrame, cap: Long): DataFrame = {
    val wCap = Window.partitionBy(col("item_id"), col("rating"))
      .orderBy(expr("(user_id % 100003) * 2654435761 % 1000000007"),
        col("user_id"))
    r.withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= cap).drop("__rn")
  }

  /** Shared SQL prelude for the oracles: ratings → capped rating lists
    * ([[CoRatingGroupCap]]) → undirected co-rating edges, materialized
    * in both directions as directed rows (src, dst), plus the node set
    * (every rated user — isolated and capped-out users participate
    * with base rank / are BFS-unreachable, identically on both
    * engines; the cap drops EDGES, never nodes).
    */
  // MATERIALIZED: a DuckDB-only evaluation hint (the oracle never runs
  // on Spark). Without it DuckDB INLINES each CTE into every reference
  // — the pair-join aggregate `e` re-evaluates once per PageRank step /
  // recursion arm, which at the 10× bench fixture spilled > 70 GB of
  // temp and killed the sf1 spot-sweep. Same results, evaluated once.
  private def edgesCte: String =
    s"""r AS MATERIALIZED (SELECT DISTINCT user_id, event_id % 100 AS item_id,
          CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating FROM events),
       rc AS MATERIALIZED (SELECT user_id, item_id, rating FROM (
           SELECT user_id, item_id, rating,
             ROW_NUMBER() OVER (PARTITION BY item_id, rating
               ORDER BY (user_id % 100003) * 2654435761 % 1000000007,
                 user_id) AS rn
           FROM r) t
         WHERE rn <= $CoRatingGroupCap),
       e AS MATERIALIZED (SELECT a.user_id AS ua, b.user_id AS ub
         FROM rc a JOIN rc b
           ON a.item_id = b.item_id AND a.rating = b.rating
          AND a.user_id < b.user_id
         GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared),
       d AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM e
             UNION ALL SELECT ub, ua FROM e),
       nodes AS MATERIALIZED (SELECT DISTINCT user_id FROM r)"""

  /** One edge table per data dir: q152 and q154 share the derived graph
    * (cluster-scale reading: the persisted edge table is built once and
    * every graph algorithm consumes it). Deliberately the IN-CONTEXT
    * memo tier, not a [[graft.Memo.artifact]] parquet table: the memo's
    * value is the frame TOGETHER WITH its declared hashpartitioning(src)
    * layout, which every iteration of every consumer joins on without
    * an exchange — a plain parquet read-back would discard the layout
    * and re-shuffle the static side each round. (The production
    * equivalent is a src-bucketed table — the [[graft.operators
    * .Relational]] bucketing path — not a flat file.)
    */
  private val edgeCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]

  /** Returns (directed edges (src, dst, deg) — both directions of the
    * undirected graph, each row carrying its source's out-degree — and
    * the node set (user_id)). Both localCheckpoint'd, the edges with a
    * declared hashpartitioning(src) layout: every iteration of every
    * consumer re-scans them without moving them.
    */
  private[graft] def coRatingGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Memo.sync(edgeCache, graft.Memo.key(s, dir))( {
      // The whole graph memo (and therefore every consumer's plan) lives
      // on a CLONED session with AQE disabled: `newSession` shares the
      // SparkContext (so the memo key and localCheckpoint blocks stay
      // valid) but isolates the conf — the previous save/flip/restore of
      // the SHARED session's AQE flag could be observed by any query
      // planned concurrently on another thread. The iterative consumers
      // WANT non-adaptive plans anyway: their whole cost model is the
      // statically declared hashpartitioning(src) layout below.
      val sg = s.newSession()
      sg.conf.set("spark.sql.adaptive.enabled", "false")
      // One shuffle for the dedup AND the pair join (r8 memo-cost work,
      // VERDICT r7 #4): laying the ratings out on the JOIN key
      // (item_id, rating) first lets the duplicate-drop aggregate run
      // in place (hashpartitioning(item,rating) clusters every
      // (user,item,rating) group) and the checkpointed layout then
      // feeds both aliases of the pair self-join with ZERO exchanges —
      // previously the distinct shuffled on all three columns and the
      // join re-shuffled both sides on (item, rating).
      val r = Tables.events(sg, dir)
        .select(col("user_id"), (col("event_id") % 100).as("item_id"),
          (floor(col("value")).cast("long") % 5 + 1).as("rating"))
        .repartition(sg.sessionState.conf.numShufflePartitions,
          col("item_id"), col("rating"))
        .dropDuplicates("user_id", "item_id", "rating")
        .localCheckpoint()
      // [[CoRatingGroupCap]]: bound each (item, rating) user list before
      // the Σ group² pair join. The row_number window runs IN PLACE on
      // the checkpointed hashpartitioning(item, rating) layout (a
      // partition-local sort, no exchange), and filter/drop preserve
      // that layout into the rc checkpoint the self-join consumes.
      val rc = capGroups(r, CoRatingGroupCap).localCheckpoint()
      // No-silent-caps: both inputs are checkpointed, so the two counts
      // are bounded scans of in-memory blocks, paid once per memo build.
      val nIn = r.count(); val nKept = rc.count()
      if (nKept < nIn)
        System.err.println(s"[graft] coRatingGraph($dir): group cap " +
          s"$CoRatingGroupCap dropped ${nIn - nKept} of $nIn rating rows " +
          "before the pair join (edge semantics = capped lists, oracle " +
          "CTE carries the identical cap)")
      val und = rc.alias("a")
        .join(rc.alias("b"),
          col("a.item_id") === col("b.item_id")
            && col("a.rating") === col("b.rating")
            && col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("ua"), col("b.user_id").as("ub"))
        .groupBy(col("ua"), col("ub")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= MinShared)
      // Lay the static side out ONCE, WITH the out-degree already on the
      // row (so a PageRank round is a single join against the rank
      // table): every iteration joins on src, and the whole GraphX-style
      // cost model ("edges stay put, vertex state moves") depends on the
      // checkpointed table DECLARING its hash layout. Under AQE the
      // checkpoint captures the partitioning before the adaptive plan
      // finalizes — UnknownPartitioning — and every round would silently
      // re-shuffle the edge table (GraphSpec pins the preserved layout)
      // — hence the AQE-off clone `sg` everything here builds on.
      // Each direction carries the undirected edge's co-rating strength
      // (n_shared) as weight `w` — q170's weighted walk uses it;
      // unweighted consumers ignore the column.
      val directed = und
        .select(col("ua").as("src"), col("ub").as("dst"), col("n_shared").as("w"))
        .unionByName(und
          .select(col("ub").as("src"), col("ua").as("dst"), col("n_shared").as("w")))
      // Degree + weight-sum annotation as a WINDOW over the final src
      // layout instead of the previous groupBy + join-back + repartition
      // stack: ONE shuffle of the edge table (the repartition below),
      // the per-src aggregates computed in place by a partition-local
      // sort, and the window preserves hashpartitioning(src) into the
      // checkpoint (GraphSpec pins the declared layout) — r8 replaces
      // three edge-table-sized exchanges with one.
      val wSrc = Window.partitionBy(col("src"))
      val edges = directed
        .repartition(sg.sessionState.conf.numShufflePartitions, col("src"))
        .select(col("src"), col("dst"), col("w"),
          count(lit(1)).over(wSrc).as("deg"),
          sum(col("w")).over(wSrc).as("sw"))
        .localCheckpoint()
      val nodes = r.select(col("user_id")).distinct().localCheckpoint()
      (edges, nodes)
    })

  /** The PageRank recurrence both engines run (all BIGINT, floor div):
    *   contrib(u) = rank_k(u) // outdeg(u)
    *   rank_{k+1}(v) = (15*Scale) // (100*N) + (85 * Σ_{u→v} contrib(u)) // 100
    * Dangling (isolated) nodes keep the base term and leak their damped
    * mass — the deterministic textbook simplification, identical on both
    * sides. Mass loss per step is < nodes/Scale (floor loss) + dangling
    * share; the INVARIANT sum(rank) <= Scale is spec-checked.
    */
  private val Iterations = 4

  /** q152 — PageRank (4 power iterations, damping 0.85) over the
    * co-rating graph, in fixed-point BIGINT so the iterative Spark loop
    * and DuckDB's unrolled CTE chain agree bit-for-bit. Spark side: per
    * iteration ONE join (edges ⋈ ranks, partial-agg sum of contributions
    * on dst) + ONE left join back to the node set; a fixed 4-join plan
    * that one action materializes. The edge side is pre-partitioned on
    * the join key, so each round shuffles only the (node, rank) table —
    * at 100 TB that's the GraphX/Pregel layout: static edges stay put,
    * the small vertex state moves.
    */
  val q152 = oracled(
    "q152_pagerank",
    "fixed-point integer PageRank (4 iterations, d=0.85) over the co-rating graph",
    {
      val n = "(SELECT COUNT(*) FROM nodes)"
      def step(k: Int): String =
        s"""pr$k AS (
           SELECT nd.user_id AS node,
             (15 * ${Scale}) // (100 * $n)
               + (85 * COALESCE(fl.inflow, 0)) // 100 AS rnk
           FROM nodes nd LEFT JOIN (
             SELECT d.dst AS node,
               CAST(SUM(p.rnk // o.deg) AS BIGINT) AS inflow
             FROM pr${k - 1} p
             JOIN d ON d.src = p.node
             JOIN outd o ON o.src = p.node
             GROUP BY d.dst) fl ON fl.node = nd.user_id)"""
      s"""WITH $edgesCte,
         outd AS (SELECT src, COUNT(*) AS deg FROM d GROUP BY src),
         pr0 AS (SELECT user_id AS node, ${Scale} // $n AS rnk FROM nodes),
         ${(1 to Iterations).map(step).mkString(",\n")}
         SELECT node AS user_id, CAST(rnk AS BIGINT) AS pagerank
         FROM pr$Iterations ORDER BY user_id"""
    }) { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    pageRank(unweighted(edges), nodes, Iterations)
      .withColumnRenamed("node", "user_id")
      .withColumnRenamed("rnk", "pagerank")
      .orderBy(col("user_id"))
  }

  /** Fixed-point PageRank over a directed edge list (src, dst, w, sw):
    * each row carries its transition weight `w` and its source's weight
    * sum `sw`, so contrib(u→v) = (rank(u) * w) div sw. Unweighted walks
    * pass w = 1 and sw = out-degree ([[unweighted]]) — bit-identical to
    * rank div deg on non-negative BIGINTs. `nodes` carries the node set
    * in column `node`; `scale` is the fixed-point unit ([[Scale]] for the
    * graph queries, TextRank's own for q203). See the recurrence note
    * above [[q152]]; exercised on known graphs by GraphSpec. Output:
    * (node, rnk) unordered. The one recurrence behind q152, q170, q171
    * and q203.
    *
    * `seeds` = None runs the global walk (uniform init, every node gets
    * the teleport term). `seeds` = Some(S) runs the PERSONALIZED walk
    * (random walk with restart): all initial mass and all teleport mass
    * concentrate on S — the only change to the recurrence is WHERE the
    * base term lands, so the per-iteration plan (one pre-partitioned
    * equi-join + one partial-agg sum) is identical. The base/init terms
    * become a per-node column instead of a literal; everything stays
    * exact BIGINT fixed-point.
    *
    * No round is pinned: the iteration count is fixed, so the plan is at
    * most `iterations` joins deep and the caller's one action
    * materializes it (see [[graft.plans.Fixpoint]] on lazy pins under
    * AQE). The per-node (base, init) table is the one pin, re-read by
    * every round.
    */
  private[graft] def pageRank(edges: DataFrame, nodes: DataFrame,
      iterations: Int, seeds: Option[DataFrame] = None, scale: Long = Scale,
      node: String = "user_id"): DataFrame = {
    val nd = nodes.select(col(node).as("node"))
    val nState = (seeds match {
      case None =>
        val n = nd.count()
        nd.select(col("node"),
          lit(15L * scale / (100L * n)).as("base"),
          lit(scale / n).as("init"))
      case Some(sd) =>
        val ns = sd.count()
        nd.join(sd.select(col("node"), lit(true).as("is_seed")),
            Seq("node"), "left")
          .select(col("node"),
            when(col("is_seed"), lit(15L * scale / (100L * ns)))
              .otherwise(lit(0L)).as("base"),
            when(col("is_seed"), lit(scale / ns))
              .otherwise(lit(0L)).as("init"))
    }).localCheckpoint(false)
    (1 to iterations).foldLeft(nState.select(col("node"), col("init").as("rnk"))) {
      (pr, _) =>
        val inflow = edges.join(pr, col("src") === col("node"))
          .select(col("dst"), expr("(rnk * w) div sw").as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
        nState.join(inflow, col("node") === col("dst"), "left")
          .select(col("node"),
            (col("base") + expr("85 * coalesce(inflow, 0L) div 100")).as("rnk"))
    }
  }

  /** The co-rating memo's edges as an unweighted walk: w = 1 and
    * sw = out-degree, read off the row ([[coRatingGraph]] carries deg).
    */
  private def unweighted(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("w"), col("deg").as("sw"))

  /** BFS hop cap: the recursive oracle must bound its path length (the
    * cyclic graph otherwise generates ever-longer (node, dist) rows
    * forever); the Spark loop FAILS LOUDLY if a frontier survives this
    * many rounds rather than returning distances that the capped oracle
    * could disagree with. The co-rating graph's communities are
    * near-cliques (diameter ~2-4 observed); 20 is a wide margin.
    */
  private val MaxHops = 20

  /** q154 — multi-source BFS shortest paths: minimum hop distance from
    * the seed set (user_id % 10 == 1) to every reachable user, over the
    * undirected co-rating graph. Spark side: textbook distributed
    * frontier expansion — per round, join the frontier to the edge
    * table, anti-join out already-labeled nodes, stop when the frontier
    * empties (an O(1) count per round is the only driver traffic). It
    * is [[bfsLabeled]] with ONE label shared by every seed, so the
    * (seed, node) visited set is the node set and each node keeps its
    * first (minimum) hop. Unreached nodes are absent from the output
    * (same inner semantics in the oracle's reachability CTE). The DuckDB
    * oracle grows (node, dist) reachability rows declaratively and takes
    * MIN(dist) — two independent formulations of BFS.
    */
  val q154 = oracled(
    "q154_bfs_shortest_path",
    "multi-source BFS hop distance over the co-rating graph == recursive-CTE min-dist oracle",
    s"""WITH RECURSIVE $edgesCte,
       seeds AS (SELECT user_id FROM nodes WHERE user_id % 10 = 1),
       reach(node, dist) AS (
         SELECT user_id, 0 FROM seeds
         UNION
         SELECT d.dst, r.dist + 1
         FROM reach r JOIN d ON d.src = r.node
         WHERE r.dist < $MaxHops)
       SELECT node AS user_id, CAST(MIN(dist) AS BIGINT) AS hops
       FROM reach GROUP BY node ORDER BY user_id""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    val seeds = nodes.filter(col("user_id") % 10 === 1)
      .select(lit(0L).as("seed"), col("user_id").as("node"))
    bfsLabeled(edges, seeds)
      .select(col("node").as("user_id"), col("hops"))
      .orderBy(col("user_id"))
  }

  /** q200 — sampled harmonic centrality: for every user, Σ over a fixed
    * 8-seed probe set S of 1/d(s, v) in 10^12 fixed point (the standard
    * pivot-sampled estimator of harmonic closeness — the centrality that
    * stays well-defined on disconnected graphs, where closeness
    * diverges). The seed set is deterministic (8 smallest user ids), so
    * the estimator itself is exact and hash-checkable; growing the
    * sample, not the algorithm, is the accuracy knob. Spark side: ONE
    * seed-labeled BFS — the q154 frontier loop with (seed, node) state —
    * so per round it is still one pre-partitioned equi-join + distinct +
    * anti-join, and total state is |S|·n rows with |S| pinned at 8,
    * i.e. O(n) like every other vertex state in this family (the
    * all-pairs version of this query is exactly what HyperBall replaces
    * the seed labels with HLL counters for; this is the exact-sample
    * rung below it). The DuckDB oracle grows (seed, node, dist)
    * reachability declaratively and takes MIN per pair — independent
    * formulation, identical integer math.
    */
  val q200 = oracled(
    "q200_harmonic_centrality",
    "8-seed sampled harmonic centrality via labeled multi-source BFS, 10^12 fixed point",
    s"""WITH RECURSIVE $edgesCte,
       seedset AS (SELECT user_id FROM nodes ORDER BY user_id LIMIT 8),
       reach(seed, node, dist) AS (
         SELECT user_id, user_id, 0 FROM seedset
         UNION
         SELECT r.seed, d.dst, r.dist + 1
         FROM reach r JOIN d ON d.src = r.node
         WHERE r.dist < $MaxHops),
       md AS (SELECT seed, node, MIN(dist) AS dist
         FROM reach GROUP BY seed, node),
       h AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_seeds_reached,
         CAST(SUM($Scale // dist) AS BIGINT) AS harmonic
         FROM md WHERE dist > 0 GROUP BY node)
       SELECT n.user_id,
         COALESCE(h.n_seeds_reached, 0) AS n_seeds_reached,
         COALESCE(h.harmonic, 0) AS harmonic
       FROM nodes n LEFT JOIN h ON h.node = n.user_id
       ORDER BY n.user_id""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    val seeds = nodes.orderBy(col("user_id")).limit(8)
      .select(col("user_id").as("seed"), col("user_id").as("node"))
    val labels = bfsLabeled(edges, seeds)
    val h = labels.filter(col("hops") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_seeds_reached"),
        sum(expr(s"$Scale div hops")).as("harmonic"))
    nodes.join(h, nodes("user_id") === h("node"), "left")
      .select(col("user_id"),
        coalesce(col("n_seeds_reached"), lit(0L)).as("n_seeds_reached"),
        coalesce(col("harmonic"), lit(0L)).as("harmonic"))
      .orderBy(col("user_id"))
  }

  /** Seed-labeled multi-source BFS: distances are kept PER SEED LABEL —
    * state rows are (seed, node, hops), the frontier expands per label,
    * and the anti-join dedups on the (seed, node) pair. `seeds` holds
    * (seed, node) start rows: q200 and q211 label each seed by its own
    * id, q154 gives every seed one shared label (plain multi-source
    * BFS). Exercised on known graphs by GraphSpec.
    *
    * Only the per-hop frontier is ever checkpointed (r8, VERDICT r7 #5):
    * the accumulated label set is a LAZY union of the already-
    * checkpointed hop frames, so the visited-set anti-join reads each
    * hop's blocks in place instead of rewriting the whole growing table
    * every hop (a per-hop `labels.localCheckpoint()` is an O(hops²)
    * state rewrite at scale).
    *
    * `cap`: when set, the expansion STOPS (normally, no error) once
    * `cap` hops are labeled — the bounded-radius form q211's exact
    * track needs (ball of radius H, not full reachability). None runs
    * to exhaustion under the [[MaxHops]] guard.
    */
  private[graft] def bfsLabeled(edges: DataFrame, seeds: DataFrame,
      cap: Option[Int] = None): DataFrame = {
    val start = seeds.select(col("seed"), col("node"), lit(0L).as("hops"))
      .localCheckpoint()
    val ((labels, _), _) = Fixpoint("bfsLabeled (raise MaxHops in the loop " +
        "and the q154/q200 oracle CTEs together)", cap.getOrElse(MaxHops),
        bounded = cap.isDefined)((start, start.select(col("seed"), col("node")))) {
      case ((labels, frontier), hop) =>
        val next = edges.join(frontier, col("src") === col("node"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(labels, Seq("seed", "node"), "left_anti")
          .select(col("seed"), col("node"), lit(hop.toLong).as("hops"))
          .localCheckpoint()
        if (next.isEmpty) ((labels, frontier), true)
        else ((labels.unionByName(next), next.select(col("seed"), col("node"))), false)
    }
    labels
  }

  /** q162 — two-hop feature propagation (unnormalized message passing,
    * the aggregation step of a GNN layer): each user's feature is its
    * event count; hop 1 sums the feature over direct co-rating
    * neighbors, hop 2 sums hop-1 over neighbors — so h2 counts
    * length-2 walks weighted by endpoint features, the signal
    * embedding-propagation / label-propagation systems compute at scale.
    * Spark side: two rounds of the SAME join shape the PageRank loop
    * uses (edges ⋈ vertex-state on the pre-partitioned side, partial-agg
    * sum on dst) — the edge table never moves. All values exact BIGINT
    * (features are counts; sums of counts), so the two-join DuckDB
    * formulation hash-matches with no rounding policy.
    */
  val q162 = oracled(
    "q162_feature_propagation",
    "two-hop neighbor feature sums (GNN message passing) over the shared edge table",
    s"""WITH $edgesCte,
       f AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS feat
         FROM events GROUP BY user_id),
       h1 AS (SELECT d.dst AS user_id, SUM(f.feat) AS h1
         FROM d JOIN f ON f.user_id = d.src GROUP BY d.dst),
       h2 AS (SELECT d.dst AS user_id, SUM(h1.h1) AS h2
         FROM d JOIN h1 ON h1.user_id = d.src GROUP BY d.dst)
       SELECT f.user_id, f.feat,
         CAST(COALESCE(h1.h1, 0) AS BIGINT) AS h1,
         CAST(COALESCE(h2.h2, 0) AS BIGINT) AS h2
       FROM f LEFT JOIN h1 ON h1.user_id = f.user_id
              LEFT JOIN h2 ON h2.user_id = f.user_id
       ORDER BY f.user_id""") { (s, dir) =>
    val (edges, _) = coRatingGraph(s, dir)
    val feat = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("feat"))
      .localCheckpoint() // scanned by both hops and the final join
    def hop(state: DataFrame, valueCol: String, out: String): DataFrame =
      edges.join(state, col("src") === col("user_id"))
        .groupBy(col("dst"))
        .agg(sum(col(valueCol)).as(out))
        .withColumnRenamed("dst", "user_id")
    val h1 = hop(feat, "feat", "h1").localCheckpoint()
    val h2 = hop(h1, "h1", "h2")
    feat.join(h1, Seq("user_id"), "left")
      .join(h2, Seq("user_id"), "left")
      .select(col("user_id"), col("feat"),
        coalesce(col("h1"), lit(0L)).as("h1"),
        coalesce(col("h2"), lit(0L)).as("h2"))
      .orderBy(col("user_id"))
  }

  /** q166 — degree assortativity: the Pearson correlation of endpoint
    * degrees over every directed edge — the one-number answer to "do
    * hubs connect to hubs?" (positive: social-style core-periphery;
    * negative: star-like). Operationally it decides whether hub-skew
    * mitigations (salting, degree-oriented orientation like q138's) are
    * load-bearing for THIS graph. One pass over the memoized edge table
    * (source degree already on the row, destination degree one
    * equi-join). Published as the exact BIGINT moment pieces (ROUNDDIV
    * burndown, VERDICT r10 #7 — the q234/q235 rational template, which
    * also subsumes q145's degenerate-input guards: a variance-free or
    * sub-2-row graph simply yields var_x/var_y ≤ 0 or NULL moments,
    * identically on both engines, instead of an ANSI corr() throw):
    *   assortativity = cov_num / √(var_x·var_y),  avg_degree = sum_sdeg/n
    * are derivable from (cov_num, var_x, var_y, sum_sdeg, n) — no
    * division, ROUND, or sqrt in the gate.
    */
  val q166 = oracled(
    "q166_degree_assortativity",
    "endpoint-degree correlation moments over the co-rating edges (hub-mixing signal)",
    s"""WITH $edgesCte,
       deg AS (SELECT src, COUNT(*) AS deg FROM d GROUP BY src),
       ed AS (SELECT ds.deg AS sdeg, dd.deg AS ddeg
         FROM d JOIN deg ds ON ds.src = d.src
                JOIN deg dd ON dd.src = d.dst),
       m AS (SELECT COUNT(*) AS n, SUM(sdeg) AS sx, SUM(ddeg) AS sy,
           SUM(sdeg * ddeg) AS sxy, SUM(sdeg * sdeg) AS sxx,
           SUM(ddeg * ddeg) AS syy
         FROM ed)
       SELECT CAST(n AS BIGINT) AS n_directed_edges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_connected_nodes,
         CAST(sx AS BIGINT) AS sum_sdeg,
         CAST(n*sxy - sx*sy AS BIGINT) AS cov_num,
         CAST(n*sxx - sx*sx AS BIGINT) AS var_x,
         CAST(n*syy - sy*sy AS BIGINT) AS var_y
       FROM m""") { (s, dir) =>
    val (edges, _) = coRatingGraph(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("ddeg"))
      .withColumnRenamed("src", "dst_node")
    val nNodes = deg.count()
    val m = edges.join(deg, col("dst") === col("dst_node"))
      .agg(count(lit(1)).as("n"),
        sum(col("deg")).as("sx"), sum(col("ddeg")).as("sy"),
        sum(col("deg") * col("ddeg")).as("sxy"),
        sum(col("deg") * col("deg")).as("sxx"),
        sum(col("ddeg") * col("ddeg")).as("syy"))
    m.select(col("n").as("n_directed_edges"),
        lit(nNodes).as("n_connected_nodes"),
        col("sx").as("sum_sdeg"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var_x"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("var_y"))
  }

  /** q170 — WEIGHTED PageRank: the q152 walk with transition
    * probabilities proportional to co-rating strength (edge weight w =
    * shared (item, rating) count) instead of uniform-over-neighbors:
    *   contrib(u→v) = (rank_k(u) * w_uv) div (Σ_x w_ux)
    * Still pure fixed-point BIGINT (rank ≤ 1e12 scale, w ≤ item count,
    * product < 2^63), so the iterative loop and the unrolled CTE agree
    * bit-for-bit, like q152. Same plan shape per round — the weighted
    * sums sw ride the memoized edge row next to deg, so nothing new
    * shuffles. Strong ties attract rank mass that uniform PageRank
    * splits evenly — the difference between "how many neighbors" and
    * "how strong the neighborhood".
    */
  val q170 = oracled(
    "q170_weighted_pagerank",
    "fixed-point PageRank with co-rating-strength transition weights",
    {
      val n = "(SELECT COUNT(*) FROM nodes)"
      def step(k: Int): String =
        s"""wpr$k AS (
           SELECT nd.user_id AS node,
             (15 * ${Scale}) // (100 * $n)
               + (85 * COALESCE(fl.inflow, 0)) // 100 AS rnk
           FROM nodes nd LEFT JOIN (
             SELECT d2.dst AS node,
               CAST(SUM((p.rnk * d2.w) // o.sw) AS BIGINT) AS inflow
             FROM wpr${k - 1} p
             JOIN d2 ON d2.src = p.node
             JOIN outw o ON o.src = p.node
             GROUP BY d2.dst) fl ON fl.node = nd.user_id)"""
      s"""WITH $edgesCte,
         e2 AS (SELECT a.user_id AS ua, b.user_id AS ub, COUNT(*) AS w
           FROM rc a JOIN rc b
             ON a.item_id = b.item_id AND a.rating = b.rating
            AND a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared),
         d2 AS (SELECT ua AS src, ub AS dst, w FROM e2
                UNION ALL SELECT ub, ua, w FROM e2),
         outw AS (SELECT src, SUM(w) AS sw FROM d2 GROUP BY src),
         wpr0 AS (SELECT user_id AS node, ${Scale} // $n AS rnk FROM nodes),
         ${(1 to Iterations).map(step).mkString(",\n")}
         SELECT node AS user_id, CAST(rnk AS BIGINT) AS pagerank
         FROM wpr$Iterations ORDER BY user_id"""
    }) { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    pageRank(edges, nodes, Iterations)
      .select(col("node").as("user_id"), col("rnk").as("pagerank"))
      .orderBy(col("user_id"))
  }

  /** q171 — PERSONALIZED PageRank (random walk with restart): the q152
    * fixed-point walk, but all initial mass and all teleport mass
    * concentrate on the seed set (user_id % 10 == 1 — q154's BFS seeds),
    * so the stationary scores answer "important RELATIVE TO these
    * users", the relevance primitive behind people-you-may-know /
    * related-item features. The only recurrence change vs q152 is where
    * the base term lands (seed-conditional instead of uniform — see
    * [[pageRank]]), so the per-iteration plan is bit-identical: one
    * join against the pre-partitioned edge memo + one partial-agg sum,
    * exact BIGINT throughout. Nodes the
    * walk never reaches report 0 — kept in the output (their absence
    * IS the signal; the oracle's LEFT JOIN keeps them identically).
    */
  val q171 = oracled(
    "q171_personalized_pagerank",
    "fixed-point personalized PageRank (restart at user_id%10==1 seeds) over the co-rating graph",
    {
      val ns = "(SELECT COUNT(*) FROM nodes WHERE user_id % 10 = 1)"
      def step(k: Int): String =
        s"""ppr$k AS (
           SELECT nd.user_id AS node,
             CASE WHEN nd.user_id % 10 = 1
               THEN (15 * ${Scale}) // (100 * $ns) ELSE 0 END
               + (85 * COALESCE(fl.inflow, 0)) // 100 AS rnk
           FROM nodes nd LEFT JOIN (
             SELECT d.dst AS node,
               CAST(SUM(p.rnk // o.deg) AS BIGINT) AS inflow
             FROM ppr${k - 1} p
             JOIN d ON d.src = p.node
             JOIN outd o ON o.src = p.node
             GROUP BY d.dst) fl ON fl.node = nd.user_id)"""
      s"""WITH $edgesCte,
         outd AS (SELECT src, COUNT(*) AS deg FROM d GROUP BY src),
         ppr0 AS (SELECT user_id AS node,
             CASE WHEN user_id % 10 = 1 THEN ${Scale} // $ns ELSE 0 END AS rnk
           FROM nodes),
         ${(1 to Iterations).map(step).mkString(",\n")}
         SELECT node AS user_id, CAST(rnk AS BIGINT) AS ppr
         FROM ppr$Iterations ORDER BY user_id"""
    }) { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    val seeds = nodes.filter(col("user_id") % 10 === 1)
      .select(col("user_id").as("node"))
    pageRank(unweighted(edges), nodes, Iterations, Some(seeds))
      .select(col("node").as("user_id"), col("rnk").as("ppr"))
      .orderBy(col("user_id"))
  }

  /** q313 — PER-SEED personalized PageRank (the full restart-vector
    * MATRIX): for each of 8 seeds, its OWN random-walk-with-restart
    * score over every reached node — the (seed, node) relevance table
    * that related-item / people-you-may-know features actually serve
    * from, where q171 collapses all seeds into one restart
    * distribution. State is keyed (seed, node) and kept SPARSE: only
    * reached rows exist (unreached nodes simply have no row — their
    * absence is the signal), so per-seed state is O(|ball|), not O(n),
    * and the whole walk is `seeds` independent sparse walks sharing one
    * scan of the pre-partitioned edge memo per round. The recurrence is
    * q152's exact BIGINT fixed-point with restart support {seed}:
    * init = Scale at (seed, seed); per round
    * rnk' = (seed==node ? 15·Scale/100 : 0) + 85·(Σ_{u→v} rnk(u) div
    * deg(u)) div 100, assembled as UNION ALL + re-aggregate so the
    * engine-side relation algebra is identical to the oracle's CTE, and
    * zero rows are pruned each round ON BOTH SIDES (a zero row
    * contributes zero inflow and its own next value never reads prior
    * presence — receiving inflow is sender-driven — so the prune is
    * value-neutral and keeps the frontier sparse). 4 rounds, lazy
    * checkpoints, one materialization. Scale shape: each round shuffles
    * only the sparse (seed, node, rnk) state against the static edge
    * layout — the Pregel discipline with a bounded seed-multiplier.
    */
  val q313 = oracled(
    "q313_per_seed_ppr",
    "per-seed personalized PageRank matrix (8 seeds x reached nodes, exact fixed-point)",
    {
      def step(k: Int): String =
        s"""fl$k AS (
             SELECT p.seed, d.dst AS node,
               CAST(SUM(p.rnk // o.deg) AS BIGINT) AS inflow
             FROM ps${k - 1} p
             JOIN d ON d.src = p.node
             JOIN outd o ON o.src = p.node
             GROUP BY 1, 2),
           ps$k AS (
             SELECT seed, node, CAST(SUM(v) AS BIGINT) AS rnk FROM (
               SELECT seed, seed AS node, (15 * ${Scale}) // 100 AS v
                 FROM seedset
               UNION ALL
               SELECT seed, node, (85 * inflow) // 100 FROM fl$k) t
             GROUP BY 1, 2 HAVING SUM(v) > 0)"""
      s"""WITH $edgesCte,
         outd AS (SELECT src, COUNT(*) AS deg FROM d GROUP BY src),
         seedset AS (SELECT user_id AS seed FROM nodes
           ORDER BY user_id LIMIT 8),
         ps0 AS (SELECT seed, seed AS node, ${Scale} AS rnk FROM seedset),
         ${(1 to Iterations).map(step).mkString(",\n")}
         SELECT seed, node AS user_id, rnk AS ppr
         FROM ps$Iterations ORDER BY seed, user_id"""
    }) { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    perSeedPpr(unweighted(edges), nodes.orderBy(col("user_id")).limit(8)
        .select(col("user_id").as("seed")), Iterations)
      .select(col("seed"), col("node").as("user_id"), col("rnk").as("ppr"))
      .orderBy(col("seed"), col("user_id"))
  }

  /** Per-seed sparse restart walk over [[pageRank]]'s edge rows
    * (src, dst, w, sw) — see [[q313]] for the recurrence and the
    * zero-prune argument. Output: (seed, node, rnk), only rnk > 0 rows.
    * Exercised on hand-checked graphs by GraphSpec.
    */
  private[graft] def perSeedPpr(edges: DataFrame, seeds: DataFrame,
      iterations: Int): DataFrame = {
    val sd = seeds.localCheckpoint(false)
    val base = sd.select(col("seed"), col("seed").as("node"),
      lit(15L * Scale / 100L).as("v"))
    var st = sd.select(col("seed"), col("seed").as("node"),
      lit(Scale).as("rnk")).localCheckpoint(false)
    for (_ <- 1 to iterations) {
      val fl = edges.join(st, col("src") === col("node"))
        .select(col("seed"), col("dst"), expr("(rnk * w) div sw").as("c"))
        .groupBy(col("seed"), col("dst"))
        .agg(expr("85 * sum(c) div 100").as("v"))
        .select(col("seed"), col("dst").as("node"), col("v"))
      st = base.unionByName(fl)
        .groupBy(col("seed"), col("node")).agg(sum(col("v")).as("rnk"))
        .filter(col("rnk") > 0)
        .localCheckpoint(false)
    }
    st
  }

  /** k-core threshold and peel-round cap for q172. The peel is MONOTONE
    * (the alive set only shrinks; once stable, further rounds are
    * no-ops), so running a FIXED number of rounds is both deterministic
    * and oracle-unrollable — the loop and the CTE chain agree as long as
    * the fixture converges within the cap, which GraphSpec pins
    * (observed: 3 rounds at sf0.01, 2 at sf0.1; cap 8 = wide margin).
    * The Spark loop exits early once the alive count stabilizes (see
    * [[kCore]]), so the cap's unused tail costs nothing.
    */
  private val CoreK = 3
  private val PeelRounds = 8

  /** Fixed-round k-core peel over a directed both-directions edge list
    * (src, dst): per round, drop every node whose degree among ALIVE
    * endpoints is < k. Returns the surviving nodes with their final
    * within-core degree. Exercised on known graphs by GraphSpec.
    */
  private[graft] def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // Per-round pins, unlike PageRank: each round consumes `alive` TWICE
    // (both endpoint semi-joins), so an unpinned chain doubles the plan
    // per round — 2^rounds subtrees by the end. Pinning the (tiny,
    // shrink-only) vertex set per round keeps every plan two joins deep.
    val start = edges.select(col("src").as("node")).distinct()
      .localCheckpoint()
    // `rounds` is a CAP, not a count: the alive set only shrinks, so two
    // consecutive rounds with the same cardinality mean the SAME set —
    // the fixed point — and every further round is a no-op. Detecting
    // that costs one count() over an already-materialized checkpoint
    // (cheap), and saves (cap − convergence) full no-op passes — at
    // fixture scale that's 8→3 rounds; at 100 TB it's the difference
    // between paying for the cap and paying for the graph's actual
    // degeneracy depth. The unrolled oracle still runs all `rounds`
    // CTE steps; monotonicity guarantees the answers agree.
    val ((alive, _), _) = Fixpoint("kCore", rounds, bounded = true)(
        (start, start.count())) { case ((alive, prevCount), _) =>
      val next = induced(edges, alive)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"))
        // lazy (r17): the convergence count right below materializes
        // it — one fewer barrier per peel round; the next round's two
        // endpoint joins then read the pinned RDD
        .localCheckpoint(false)
      val c = next.count()
      ((next, c), c == prevCount)
    }
    induced(edges, alive)
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
  }

  /** The (src, dst) edges with both endpoints in `nodes` (node). */
  private def induced(edges: DataFrame, nodes: DataFrame): DataFrame = edges
    .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
    .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")

  /** q172 — k-core decomposition (k = $CoreK): iteratively peel nodes
    * with fewer than k alive co-rating neighbors until stable; report
    * the surviving core with each member's within-core degree — the
    * standard dense-community extractor (spam rings, engaged-user
    * cohorts) and the cheapest structural filter before an expensive
    * per-community computation. Spark side: per round, the alive set
    * (vertex-state-sized, shrink-only) semi-joins the pre-partitioned
    * edge memo on both endpoints — the src side is co-located by the
    * memo's layout, the dst side moves only the alive table, never the
    * edges — then one partial-agg degree count. [[PeelRounds]] caps the
    * loop, eager per-round checkpoints + convergence early-exit run only
    * the graph's actual degeneracy depth (see the monotonicity note on
    * [[CoreK]]); the oracle unrolls the full cap as a CTE chain — the
    * answers agree because converged rounds are no-ops. All counts
    * exact BIGINT.
    */
  val q172 = oracled(
    "q172_kcore",
    s"$CoreK-core peel (fixed $PeelRounds-round monotone fixpoint) with within-core degrees",
    {
      // AS MATERIALIZED: each round reads the previous alive set TWICE
      // (both endpoint joins) — inlined CTEs would re-evaluate the whole
      // chain per reference, 2^rounds blowup (the SQL mirror of the
      // eager-checkpoint note in [[kCore]])
      def step(k: Int): String =
        s"""a$k AS MATERIALIZED (SELECT d.src AS node FROM d
           JOIN a${k - 1} s ON s.node = d.src
           JOIN a${k - 1} t ON t.node = d.dst
           GROUP BY d.src HAVING COUNT(*) >= $CoreK)"""
      s"""WITH $edgesCte,
         a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM d),
         ${(1 to PeelRounds).map(step).mkString(",\n")}
         SELECT d.src AS user_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         FROM d
         JOIN a$PeelRounds s ON s.node = d.src
         JOIN a$PeelRounds t ON t.node = d.dst
         GROUP BY d.src ORDER BY d.src"""
    }) { (s, dir) =>
    val (edges, _) = coRatingGraph(s, dir)
    kCore(edges, CoreK, PeelRounds)
      .select(col("node").as("user_id"), col("core_deg"))
      .orderBy(col("user_id"))
  }

  /** LPA fixed round count and the argmax encoding base. Synchronous
    * label propagation can oscillate (bipartite structures flip forever),
    * so no convergence claim is made or needed: BOTH engines run exactly
    * [[LpaRounds]] synchronous rounds of the same recurrence, and
    * whatever state that reaches — converged or mid-oscillation — is the
    * answer on both sides. The argmax key `cnt * LpaKeyBase - label`
    * makes "most frequent label, ties to the SMALLEST label" a single
    * max over distinct keys (labels are node ids < LpaKeyBase; keys stay
    * far under 2^63 for any degree < 9e8) — deterministic with no
    * window, no sort, inside an ordinary partial-aggregable max_by.
    */
  private val LpaRounds = 3
  private val LpaKeyBase = 10000000000L

  /** q173 — label propagation communities (synchronous LPA, 3 rounds):
    * every node starts as its own label; each round it adopts the most
    * frequent label among its neighbors (ties to the smallest), isolated
    * nodes keep their own. The standard cheap community detector —
    * coarser than connected components (q73: any path merges), finer
    * than nothing: dense co-rating pockets converge onto one label and
    * become candidate duplicate-account / shared-taste cohorts. Spark
    * side: per round ONE join against the pre-partitioned edge memo +
    * TWO partial-aggregated shuffles ((dst,label) count, then max_by
    * argmax on dst) + the left join back to nodes — vertex state moves,
    * edges never do; lazy per-round checkpoints (each round reads the
    * label state once, plan depth = rounds).
    * Exact BIGINT throughout; the oracle unrolls the same rounds with
    * DuckDB's arg_max over the identical key encoding.
    */
  /** The unrolled LPA CTE chain (lp0..lp`rounds`) both q173 and q281
    * splice after [[edgesCte]] — one recurrence text, two consumers,
    * so the community definition cannot drift between the label dump
    * and the modularity ledger built on top of it.
    */
  private def lpaCte(rounds: Int): String = {
    def step(k: Int): String =
      s"""lp$k AS (
         SELECT nd.user_id AS node,
           COALESCE(nb.nlbl, nd.user_id) AS lbl
         FROM nodes nd LEFT JOIN (
           SELECT dst AS node,
             arg_max(lbl, cnt * ${LpaKeyBase} - lbl) AS nlbl
           FROM (SELECT d.dst, p.lbl, COUNT(*) AS cnt
                 FROM lp${k - 1} p JOIN d ON d.src = p.node
                 GROUP BY d.dst, p.lbl) c
           GROUP BY dst) nb ON nb.node = nd.user_id)"""
    s"""lp0 AS (SELECT user_id AS node, user_id AS lbl FROM nodes),
       ${(1 to rounds).map(step).mkString(",\n")}"""
  }

  val q173 = oracled(
    "q173_label_propagation",
    s"synchronous $LpaRounds-round LPA communities (majority label, ties to smallest) over the co-rating graph",
    s"""WITH $edgesCte,
       ${lpaCte(LpaRounds)}
       SELECT node AS user_id, CAST(lbl AS BIGINT) AS community
       FROM lp$LpaRounds ORDER BY user_id""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    labelPropagation(edges, nodes, LpaRounds)
      .select(col("node").as("user_id"), col("lbl").as("community"))
      .orderBy(col("user_id"))
  }

  /** q281 — Newman MODULARITY of the q173 LPA communities, as an EXACT
    * integer ledger: with m the undirected edge count, e_c a
    * community's intra-edge count and d_c its degree sum, the standard
    *   Q = Σ_c [ e_c/m − (d_c/2m)² ]
    * is reported ×4m² so every term is a BIGINT:
    *   contrib_x4m2(c) = 4·m·e_c − d_c² ,  Q = Σ contrib / 4m².
    * The quality audit every community detector owes its consumers —
    * LPA ships labels (q173) but never says whether the partition
    * beats the degree-preserving null model; this ledger does, per
    * community, with zero float drift across the hash gate (the q152
    * fixed-point discipline applied to a quadratic form).
    *
    * Scale shape: labels are the q173 vertex state; the ledger costs
    * TWO bounded joins of edges against the V-sized label table (one
    * per endpoint, the LPA round shape — edges never move off their
    * src partitioning) + two partial-aggregated groupBys on community,
    * + a 1-row m broadcast. BIGINT-safe while m < ~1.5e9 (4m·e_c ≤
    * 4m² < 2^63); past that the ledger flips to DECIMAL(38,0) — at
    * 100 TB co-rating graphs that bound is the FIRST thing to check,
    * so the scaladoc owns it.
    */
  val q281 = oracled(
    "q281_modularity",
    "exact x4m^2 modularity ledger per LPA community over the co-rating graph",
    s"""WITH $edgesCte,
       ${lpaCte(LpaRounds)},
       mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
       dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM d GROUP BY src),
       nd AS (SELECT p.node, p.lbl, COALESCE(dg.deg, 0) AS deg
         FROM lp$LpaRounds p LEFT JOIN dg ON dg.src = p.node),
       na AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg) AS BIGINT) AS degree_sum
         FROM nd GROUP BY lbl),
       ea AS (SELECT la.lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS intra_edges
         FROM e JOIN lp$LpaRounds la ON la.node = e.ua
           JOIN lp$LpaRounds lb ON lb.node = e.ub
         WHERE la.lbl = lb.lbl GROUP BY 1)
       SELECT na.lbl AS community, n_nodes,
         COALESCE(ea.intra_edges, 0) AS intra_edges, degree_sum,
         CAST(4 * mm.m * COALESCE(ea.intra_edges, 0)
           - degree_sum * degree_sum AS BIGINT) AS contrib_x4m2
       FROM na LEFT JOIN ea ON ea.lbl = na.lbl CROSS JOIN mm
       ORDER BY community""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    val lbl = labelPropagation(edges, nodes, LpaRounds)
    val und = edges.filter(col("src") < col("dst"))
      .select(col("src").as("ua"), col("dst").as("ub"))
    val mDf = und.agg(count(lit(1)).as("m"))
    val dg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val na = lbl.join(dg, lbl("node") === dg("src"), "left")
      .select(col("lbl"), coalesce(col("deg"), lit(0L)).as("deg"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val ea = und
      .join(lbl.select(col("node").as("na_"), col("lbl").as("la")),
        col("ua") === col("na_"))
      .join(lbl.select(col("node").as("nb_"), col("lbl").as("lb")),
        col("ub") === col("nb_"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("intra_edges"))
    na.join(ea, Seq("lbl"), "left")
      .crossJoin(broadcast(mDf))
      .select(col("lbl").as("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4L) * col("m") * coalesce(col("intra_edges"), lit(0L))
          - col("degree_sum") * col("degree_sum")).as("contrib_x4m2"))
      .orderBy(col("community"))
  }

  /** Synchronous LPA over a directed both-directions edge list (src,
    * dst) and node set (user_id); see [[q173]]. Exercised on known
    * graphs by GraphSpec. Output: (node, lbl) unordered.
    */
  private[graft] def labelPropagation(edges: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    var lbl = nodes.select(col("user_id").as("node"), col("user_id").as("lbl"))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val nbr = edges.join(lbl, col("src") === col("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max_by(col("lbl"), col("cnt") * lit(LpaKeyBase) - col("lbl")).as("nlbl"))
      lbl = nodes
        .join(nbr, nodes("user_id") === nbr("dst"), "left")
        .select(nodes("user_id").as("node"),
          coalesce(col("nlbl"), nodes("user_id")).as("lbl"))
        .localCheckpoint(false)
    }
    lbl
  }

  /** Wedge-center degree cap for [[q180]] (VERDICT r10 #2): link
    * prediction enumerates every wedge through every center z — Σ
    * deg(z)², 604× at the 10× bench fixture — and the cost concentrates
    * exactly on the hubs whose RA contribution is smallest (each hub
    * wedge adds only Scale/deg(z) ≤ Scale/cap to a pair's score). The
    * standard hub-cap variant drops centers with deg(z) > cap from the
    * wedge join ON BOTH ENGINES, making the bound #nodes·cap² instead
    * of Σ deg². Declared approximation contract: a reported pair's
    * common_neighbors/ra_score count only sub-cap centers, and the
    * excluded mass per pair is < (#hub common neighbors)·Scale/cap —
    * at the default cap 1000 each missing hub costs < 0.1% of a single
    * min-degree (MinShared ⇒ deg ≥ 1 edge ⇒ contribution ≤ Scale)
    * neighbor's contribution. At the oracle fixtures the cap never
    * bites (max degree 428 at sf0.1 under the group cap), so the gate
    * compares the EXACT index; above it, Spark and DuckDB still agree
    * bit-for-bit because the oracle carries the identical predicate.
    * Surfaced via -Dgraft.linkPred.hubCap / GRAFT_LINK_PRED_HUB_CAP.
    */
  private[graft] val LinkPredHubCap: Long =
    capSetting("graft.linkPred.hubCap", "GRAFT_LINK_PRED_HUB_CAP", 1000L)

  /** q180 — link prediction over the co-rating graph: for every
    * non-adjacent pair with at least one common (sub-hub-cap) neighbor,
    * the common-neighbor count and the resource-allocation index
    * RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) (Zhou/Lü/Zhang 2009 — the
    * strongest of the simple local predictors), in the q152 fixed-point
    * discipline: each z contributes `Scale div deg(z)` as an exact
    * BIGINT, so the distributed sum is associative and bit-identical to
    * the oracle's serial one — no double drift in a score used for
    * top-k cuts. Shape: one wedge self-join of the shared checkpointed
    * edge memo (z → a, z → b, a < b — the q138 triangle-counting cost),
    * with centers bounded by [[LinkPredHubCap]] so the join costs
    * #nodes·cap² instead of the unbounded Σ deg(z)² (the sf1 probe's
    * worst scaler; the cap's approximation contract is documented on
    * the constant), one LEFT ANTI join against the same edges
    * to keep only non-adjacent pairs, one partial-aggregated count/sum,
    * top-50 via TakeOrderedAndProject. Candidate recommendations a
    * "people you may know" or record-linkage blocking stage consumes.
    */
  val q180 = oracled(
    "q180_link_prediction",
    "common-neighbor + resource-allocation link scores for non-adjacent pairs, top-50",
    s"""WITH $edgesCte,
       dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM d GROUP BY src),
       w AS (SELECT d1.src AS z, d1.dst AS a, d2.dst AS b
             FROM d d1 JOIN d d2 ON d1.src = d2.src AND d1.dst < d2.dst
             JOIN dg ON dg.src = d1.src
             WHERE dg.deg <= $LinkPredHubCap),
       c AS (SELECT z, a, b FROM w
             WHERE NOT EXISTS (SELECT 1 FROM d
               WHERE d.src = w.a AND d.dst = w.b)),
       sc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                CAST(SUM($Scale // dg.deg) AS BIGINT) AS ra_score
              FROM c JOIN dg ON c.z = dg.src GROUP BY a, b)
       SELECT a AS user_a, b AS user_b, common_neighbors, ra_score
       FROM sc ORDER BY ra_score DESC, a, b LIMIT 50""") { (s, dir) =>
    val (edges, _) = coRatingGraph(s, dir)
    // the edge memo carries deg on every row — the hub-cap filter is a
    // free scan predicate on the z side, no extra join or aggregate
    val wedges = edges.filter(col("deg") <= LinkPredHubCap)
      .select(col("src").as("z"), col("dst").as("a"), col("deg"))
      .join(edges.filter(col("deg") <= LinkPredHubCap)
          .select(col("src").as("z2"), col("dst").as("b")),
        col("z") === col("z2") && col("a") < col("b"))
    val cand = wedges.join(edges.select(col("src"), col("dst")),
      col("a") === col("src") && col("b") === col("dst"), "left_anti")
    cand.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr(s"$Scale div deg")).cast("long").as("ra_score"))
      .select(col("a").as("user_a"), col("b").as("user_b"),
        col("common_neighbors"), col("ra_score"))
      .orderBy(col("ra_score").desc, col("user_a"), col("user_b"))
      .limit(50)
  }

  /** HITS fixed-point scale (1 normalized unit = 1e6) and round count.
    * Per half-step the largest raw score is rescaled to exactly
    * [[HitsScale]], so every intermediate stays <= indegree * 1e12 —
    * BIGINT-safe for degrees below ~9.2e6 (beyond that the scale drops
    * or the state flips to DECIMAL(38,0); fixture degrees are <= 150).
    */
  private val HitsScale = 1000000L
  private val HitsRounds = 3

  /** q188 — HITS hubs & authorities (Kleinberg 1998) over the
    * DEGREE-ORIENTED co-rating graph: each undirected edge points from
    * its lower-degree endpoint to its higher-degree one (ties to the
    * larger id) — the "follower → star" orientation q138's wedge join
    * already uses — so the two scores mean something: authorities are
    * the stars many followers point at, hubs are the followers best
    * connected to stars. (On the raw bidirected graph both iterations
    * collapse onto the same principal eigenvector — the orientation is
    * what keeps the bipartite structure non-degenerate.)
    *
    * Determinism: the q152 discipline — all BIGINT, and the per-half-step
    * sup-normalization (v * Scale div max) replaces the textbook L2 norm
    * (a sqrt would put a double in the state); max-normalized HITS
    * converges to the same principal directions. Both engines run the
    * identical integer recurrence; the oracle unrolls it as a CTE chain
    * with scalar-subquery maxima.
    *
    * Scale posture: orientation = one vertex-sized degree join against
    * the pre-partitioned edge memo, checkpointed once per run; per
    * half-step ONE equi-join (edges ⋈ score) + ONE partial-agg sum +
    * a 1-row global max broadcast back — vertex state moves, edges
    * never do, lineage O(1) via per-step lazy checkpoints.
    */
  val q188 = oracled(
    "q188_hits",
    s"fixed-point integer HITS ($HitsRounds rounds, sup-normalized) over the degree-oriented co-rating graph",
    {
      def step(k: Int): String =
        s"""ar$k AS MATERIALIZED (
             SELECT od.dst AS node, CAST(SUM(h.v) AS BIGINT) AS raw
             FROM od JOIN h${k - 1} h ON h.node = od.src GROUP BY od.dst),
           a$k AS MATERIALIZED (
             SELECT node, CAST((raw * $HitsScale) // (SELECT MAX(raw) FROM ar$k) AS BIGINT) AS v
             FROM ar$k),
           hr$k AS MATERIALIZED (
             SELECT od.src AS node, CAST(SUM(a.v) AS BIGINT) AS raw
             FROM od JOIN a$k a ON a.node = od.dst GROUP BY od.src),
           h$k AS MATERIALIZED (
             SELECT node, CAST((raw * $HitsScale) // (SELECT MAX(raw) FROM hr$k) AS BIGINT) AS v
             FROM hr$k)"""
      s"""WITH $edgesCte,
         dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM d GROUP BY src),
         od AS MATERIALIZED (
           SELECT d.src, d.dst FROM d
           JOIN dg s ON s.src = d.src JOIN dg t ON t.src = d.dst
           WHERE s.deg < t.deg OR (s.deg = t.deg AND d.src < d.dst)),
         h0 AS (SELECT user_id AS node, $HitsScale AS v FROM nodes),
         ${(1 to HitsRounds).map(step).mkString(",\n")}
         SELECT nd.user_id,
           CAST(COALESCE(an.v, 0) AS BIGINT) AS authority,
           CAST(COALESCE(hn.v, 0) AS BIGINT) AS hub
         FROM nodes nd
         LEFT JOIN a$HitsRounds an ON an.node = nd.user_id
         LEFT JOIN h$HitsRounds hn ON hn.node = nd.user_id
         ORDER BY nd.user_id"""
    }) { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    // degree-oriented direction: one join of the memo against its own
    // vertex-degree projection (the memo row already carries deg(src))
    val dg = edges.select(col("src"), col("deg")).distinct()
    val od = edges.select(col("src"), col("dst"), col("deg").as("sdeg"))
      .join(dg.select(col("src").as("t_"), col("deg").as("tdeg")),
        col("dst") === col("t_"))
      .filter(col("sdeg") < col("tdeg")
        || (col("sdeg") === col("tdeg") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .localCheckpoint()
    hits(od, nodes, HitsRounds)
      .orderBy(col("user_id"))
  }

  /** Max-normalized integer HITS over a DIRECTED edge list (src, dst)
    * and node set (user_id); see [[q188]]. Exercised on hand-checked
    * directed graphs by GraphSpec. Output: (user_id, authority, hub).
    */
  private[graft] def hits(od: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    // one sup-normalized half-step: scores flow along od from the
    // `from` endpoint to the `to` endpoint
    def half(score: DataFrame, from: String, to: String): DataFrame = {
      val raw = od.join(score, col(from) === col("node"))
        .groupBy(col(to)).agg(sum(col("v")).as("raw"))
        .localCheckpoint(false)
      raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
        .select(col(to).as("node"), expr(s"(raw * $HitsScale) div mx").as("v"))
        .localCheckpoint(false)
    }
    var h = nodes.select(col("user_id").as("node"), lit(HitsScale).as("v"))
      .localCheckpoint(false)
    var a: DataFrame = h.limit(0)
    for (_ <- 1 to rounds) {
      a = half(h, "src", "dst")
      h = half(a, "dst", "src")
    }
    nodes
      .join(a.select(col("node").as("an_"), col("v").as("authority")),
        nodes("user_id") === col("an_"), "left")
      .join(h.select(col("node").as("hn_"), col("v").as("hub")),
        nodes("user_id") === col("hn_"), "left")
      .select(col("user_id"),
        coalesce(col("authority"), lit(0L)).as("authority"),
        coalesce(col("hub"), lit(0L)).as("hub"))
  }

  /** Radius of the q211 HyperBall run — a PARAMETER of the algorithm
    * (production runs iterate to the graph's effective diameter); the
    * fixture pins 2 so the exact all-nodes track that anchors the gate
    * stays affordable. Shared verbatim by the oracle CTE bound.
    */
  private val BallRadius = 2

  /** Node-count gate on q211's EXACT anchor track (VERDICT r10 #3): the
    * all-nodes bounded BFS exists to AUDIT the sketch at oracle scales
    * — it is O(Σ ball sizes) state, the exact explosion the sketch is
    * built to avoid, and at the 10× bench fixture it was 717 s of an
    * 1847 s run (measuring the gate artifact, not the engine). Graphs
    * with more nodes than this threshold run the SKETCH TRACK ONLY and
    * report estimate-suffixed metrics (plus an explicit
    * `exact_track_skipped` marker row — no silent semantics change);
    * at or below it the full audit runs and the oracle compares the
    * exact columns. Default 5000 covers every oracle fixture (1500
    * nodes at sf0.1) and gates the 15000-node bench fixture. Surfaced
    * via -Dgraft.hyperball.exactMaxNodes / GRAFT_HYPERBALL_EXACT_MAX_NODES
    * (the sf1 driver-oracle spot-sweep raises it to keep the exact
    * compare).
    */
  private[graft] val HyperBallExactMaxNodes: Long = capSetting(
    "graft.hyperball.exactMaxNodes", "GRAFT_HYPERBALL_EXACT_MAX_NODES", 5000L)

  /** q211 — HyperBall (Boldi–Vigna) ALL-NODES neighborhood/centrality
    * via Spark's native DataSketches HLL functions — the sketch upgrade
    * of q200's 8-seed exact sample. Every node carries one bounded HLL
    * register set (`hll_sketch_agg` seeds B_0 = {v}); each round unions
    * every neighbor's ball into the node's own (`hll_union_agg` under a
    * co-partitioned shuffle join of the 1-sketch-per-node state against
    * the static edge layout — NO broadcast hint: the state is ~KB per
    * node, so its total size grows linearly with |V| and must shuffle
    * on the node key, not ship to every executor; AQE is free to pick
    * broadcast when the graph actually fits — then one `hll_union` with
    * the previous state. After H rounds the sketch estimates |B_H(v)|,
    * the number of nodes within distance H. THE point of the sketch:
    * PER-NODE state is CONSTANT (one register array, ~KB) regardless of
    * graph size, the union is
    * commutative/associative/idempotent (register-wise max — any merge
    * tree gives the same registers), so all-nodes centrality at 100 TB
    * is H key-partitioned join rounds over mergeable state — where the exact
    * computation (q200's labeled BFS run from EVERY seed) is an O(n²)
    * state explosion precisely on the dense graphs that matter.
    *
    * The gate is the q199/q209 contract style, SCALE-GATED by
    * [[HyperBallExactMaxNodes]] (above it only the sketch runs and the
    * output carries estimate-suffixed metrics + an explicit
    * exact_track_skipped row — the bench then measures the operator,
    * not the audit): the fixture-affordable
    * EXACT track (bounded-radius labeled BFS from all nodes, `cap=H`)
    * computes `n_pairs_within_2` and the 2-bounded harmonic-centrality
    * mass (`Scale div dist`, all BIGINT) — both must EQUAL DuckDB's
    * recursive-CTE reachability — and the sketch track must agree with
    * the exact ball of every single node within max(3, 5%) — far wider
    * than DataSketches' lgK=12 ±1.6% σ, yet deterministic (fixed hash,
    * order-independent registers), so `est_ball_violations` crosses as
    * a literal 0. Estimates stay INTERNAL doubles; every gate column is
    * BIGINT.
    */
  val q211 = oracled(
    "q211_hyperball_centrality",
    "HyperBall all-nodes 2-ball sizes + bounded harmonic mass: HLL sketch track audited per-node against the exact BFS track",
    s"""WITH RECURSIVE $edgesCte,
       reach(seed, node, dist) AS (
         SELECT user_id, user_id, 0 FROM nodes
         UNION
         SELECT r2.seed, d.dst, r2.dist + 1
         FROM reach r2 JOIN d ON d.src = r2.node
         WHERE r2.dist < $BallRadius),
       md AS (SELECT seed, node, MIN(dist) AS dist
         FROM reach GROUP BY seed, node),
       agg AS (SELECT
           (SELECT COUNT(*) FROM nodes) AS n_nodes,
           COUNT(*) FILTER (WHERE dist > 0) AS n_pairs,
           SUM(CASE WHEN dist > 0 THEN $Scale // dist ELSE 0 END) AS hsum
         FROM md)
       SELECT 'est_ball_violations' AS metric, CAST(0 AS BIGINT) AS value
         FROM agg
       UNION ALL SELECT 'harmonic2_sum_exact', CAST(hsum AS BIGINT) FROM agg
       UNION ALL SELECT 'n_nodes', CAST(n_nodes AS BIGINT) FROM agg
       UNION ALL SELECT 'n_pairs_within_2', CAST(n_pairs AS BIGINT) FROM agg
       ORDER BY metric""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    // sketch track: B_0 = {v} per node, then BallRadius union rounds
    var state = nodes.select(col("user_id").as("node"))
      .groupBy(col("node")).agg(hll_sketch_agg(col("node")).as("sk"))
      .localCheckpoint()
    for (_ <- 1 to BallRadius) {
      val nbr = edges.select(col("src"), col("dst"))
        .join(state, col("dst") === col("node"))
        .groupBy(col("src")).agg(hll_union_agg(col("sk")).as("nsk"))
      state = state.join(nbr, col("node") === col("src"), "left")
        .select(col("node"),
          when(col("nsk").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("nsk"))).as("sk"))
        .localCheckpoint()
    }
    val est = state.select(col("node"), hll_sketch_estimate(col("sk")).as("est2"))
    // exact track (fixture-scale anchor; dropped above
    // [[HyperBallExactMaxNodes]] and at 100 TB — that's the documented
    // trade the sketch exists to make). The node count is the one
    // scalar that crosses the driver.
    val nNodes = nodes.count()
    if (nNodes > HyperBallExactMaxNodes) {
      System.err.println(s"[graft] q211($dir): $nNodes nodes > " +
        s"exactMaxNodes=$HyperBallExactMaxNodes — sketch track only " +
        "(estimate metrics; the exact audit runs at oracle scales)")
      val sums = est.agg(
        sum(round(col("est2")).cast("long")).as("ball_sum"),
        sum(round(col("est2")).cast("long") - lit(1L)).as("pair_sum"))
        .localCheckpoint()
      sums.select(
          lit("exact_track_skipped").as("metric"), lit(1L).as("value"))
        .unionByName(sums.select(lit("n_nodes").as("metric"),
          lit(nNodes).as("value")))
        .unionByName(sums.select(lit("n_pairs_within_2_est").as("metric"),
          col("pair_sum").cast("long").as("value")))
        .unionByName(sums.select(lit("sum_ball2_est").as("metric"),
          col("ball_sum").cast("long").as("value")))
        .orderBy(col("metric"))
    } else {
    val labels = bfsLabeled(edges,
      nodes.select(col("user_id").as("seed"), col("user_id").as("node")),
      cap = Some(BallRadius))
    val exact = labels.groupBy(col("seed"))
      .agg(count(lit(1)).as("ball2"), // includes self (dist 0), as B_0 does
        count(when(col("hops") > 0, 1)).as("pairs2"),
        sum(when(col("hops") > 0, expr(s"$Scale div hops"))
          .otherwise(lit(0L))).as("h2"))
    val joined = est.join(exact, est("node") === exact("seed"))
      .localCheckpoint()
    val nN = nodes.agg(count(lit(1)).as("value"))
      .select(lit("n_nodes").as("metric"), col("value").cast("long"))
    val pairs = joined.agg(sum(col("pairs2")).as("value"))
      .select(lit("n_pairs_within_2").as("metric"), col("value").cast("long"))
    val hsum = joined.agg(sum(col("h2")).as("value"))
      .select(lit("harmonic2_sum_exact").as("metric"), col("value").cast("long"))
    val viol = joined
      .filter(abs(col("est2") - col("ball2").cast("double")) >
        greatest(lit(3.0), col("ball2").cast("double") * lit(0.05)))
      .agg(count(lit(1)).as("value"))
      .select(lit("est_ball_violations").as("metric"), col("value").cast("long"))
    viol.unionByName(hsum).unionByName(nN).unionByName(pairs)
      .orderBy(col("metric"))
    }
  }

  /** Frontier label-correcting relaxation behind [[sssp]] and
    * [[temporalEarliestArrival]]: per round, relax only the edges leaving
    * nodes whose label improved last round (`frontier ⋈ edges` under
    * `admit`, map-side min of `cand` per destination), then keep the
    * improvements. Only (node, dist) state moves; labels only decrease,
    * so the fixpoint is the true minimum. `admit` and `cand` read the edge
    * row and the frontier's (node, dist); `seeds` is one `node` column,
    * label 0. Output (node, dist), unordered.
    */
  private def relax(name: String, edges: DataFrame, seeds: DataFrame,
      maxRounds: Int, admit: Column, cand: Column): DataFrame = {
    val start = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    val ((dist, _), _) = Fixpoint(name, maxRounds)((start, start)) {
      case ((dist, frontier), _) =>
        val improved = edges.join(frontier, col("src") === col("node") && admit)
          .groupBy(col("dst")).agg(min(cand).as("d"))
          .join(dist.select(col("node").as("dst"), col("dist").as("od")),
            Seq("dst"), "left")
          .filter(col("od").isNull || col("d") < col("od"))
          .select(col("dst").as("node"), col("d").as("dist"))
          .localCheckpoint()
        if (improved.isEmpty) ((dist, frontier), true)
        else ((dist.unionByName(improved).groupBy(col("node"))
          .agg(min(col("dist")).as("dist")).localCheckpoint(), improved), false)
    }
    dist
  }

  /** Weighted shortest paths by frontier Bellman-Ford ([[relax]] with
    * candidate dist + len). Distances at or beyond `bound` are pruned
    * ("reachable within budget"), which also bounds the round count.
    * edges: (src, dst, len); seeds: (node). Exercised by GraphSpec.
    */
  private[graft] def sssp(edges: DataFrame, seeds: DataFrame,
      bound: Long = SsspBound, maxRounds: Int = 80): DataFrame = {
    val d = col("dist") + col("len")
    relax("sssp (bound/len changed? keep loop and oracle bounds in lockstep)",
      edges, seeds, maxRounds, d < bound, d)
  }

  /** Shortest-path budget for q221: paths costing this much or more are
    * outside the query (and terminate the oracle's recursion). Edge
    * lengths are 1000 div n_shared ∈ [10, 71] at MinShared=14, so the
    * bound also caps relaxation rounds at 60 ≪ the loop's 80-round
    * failsafe.
    */
  private val SsspBound = 600L

  /** q221 — weighted shortest paths from the seed set (user_id % 10 = 3)
    * over the co-rating graph, edge length = 1000 div n_shared (strong
    * agreement = short hop — the standard inverse-affinity metric).
    * All-integer costs make the distances hash-exact. The Spark side is
    * the frontier Bellman-Ford above; the DuckDB oracle grows (node,
    * dist) rows declaratively under the same cost bound and takes MIN —
    * two independent formulations, like q154's BFS pair. Unreachable
    * (or over-budget) nodes are absent from both.
    */
  val q221 = oracled(
    "q221_weighted_sssp",
    "frontier Bellman-Ford weighted distances == recursive-CTE min-cost oracle",
    s"""WITH RECURSIVE rr AS (SELECT DISTINCT user_id,
           event_id % 100 AS item_id,
           CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating FROM events),
       rrc AS (SELECT user_id, item_id, rating FROM (
           SELECT user_id, item_id, rating,
             ROW_NUMBER() OVER (PARTITION BY item_id, rating
               ORDER BY (user_id % 100003) * 2654435761 % 1000000007,
                 user_id) AS rn
           FROM rr) t
         WHERE rn <= $CoRatingGroupCap),
       ee AS (SELECT a.user_id AS ua, b.user_id AS ub,
           CAST(COUNT(*) AS BIGINT) AS ns
         FROM rrc a JOIN rrc b
           ON a.item_id = b.item_id AND a.rating = b.rating
          AND a.user_id < b.user_id
         GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared),
       dw AS (SELECT ua AS src, ub AS dst, 1000 // ns AS len FROM ee
              UNION ALL SELECT ub, ua, 1000 // ns FROM ee),
       sd AS (SELECT DISTINCT user_id FROM rr WHERE user_id % 10 = 3),
       reach(node, dist) AS (
         SELECT user_id, 0 FROM sd
         UNION
         SELECT dw.dst, w.dist + dw.len
         FROM reach w JOIN dw ON dw.src = w.node
         WHERE w.dist + dw.len < $SsspBound)
       SELECT node AS user_id, CAST(MIN(dist) AS BIGINT) AS dist
       FROM reach GROUP BY node ORDER BY user_id""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    val el = edges.select(col("src"), col("dst"),
      expr("1000 div w").as("len"))
    val seeds = nodes.filter(col("user_id") % 10 === 3)
      .select(col("user_id").as("node"))
    sssp(el, seeds)
      .select(col("node").as("user_id"), col("dist").cast("long").as("dist"))
      .orderBy(col("user_id"))
  }

  /** Strongly connected components of a DIRECTED graph by the
    * forward-max / backward-collect coloring algorithm (the FW-BW
    * family every distributed SCC implementation descends from —
    * undirected CC machinery cannot see direction):
    *
    *   repeat until no nodes remain:
    *     1. COLOR: propagate the MAX node id forward along edges to
    *        fixpoint — color(v) = the largest id that can reach v.
    *        A node with color(v) = v is a ROOT.
    *     2. COLLECT: from all roots simultaneously, walk edges
    *        BACKWARD, restricted to nodes of the same color; every
    *        node collected with root r is in r's SCC (forward-reach
    *        via the color certificate + backward-reach via the walk =
    *        mutual reachability).
    *     3. Remove the finished SCCs; surviving edges re-filter to
    *        remaining nodes.
    *
    * Every color class loses its root's whole SCC per outer round, so
    * rounds are bounded by the longest chain of SCCs, not their count;
    * the loop fails loudly at `maxRounds`. Both inner loops converge
    * within |V| + 1 rounds (a color or a backward walk crosses at most
    * |V| − 1 edges), which guards them. All three inner shapes are
    * the repo's standard iteration cost model: edge table re-filtered
    * by semi-join, (node, state) frames moving through
    * localCheckpoints. Output: (node, scc = MIN member id, the
    * engine-wide canonical component label).
    */
  private[graft] def scc(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    val all = nodes.select(col("node")).distinct().localCheckpoint(false)
    val inner = (all.count() + 1).min(Int.MaxValue.toLong).toInt
    val none = all.select(col("node"), col("node").as("root")).limit(0)
    val ((out, _), _) = Fixpoint("scc (pathological SCC chain?)", maxRounds)(
        (none, all)) { case ((out, remaining), _) =>
      val er = induced(edges, remaining).localCheckpoint()
      // 1. forward max-id propagation to fixpoint
      val (color, _) = Fixpoint("scc color", inner)(
          remaining.select(col("node"), col("node").as("c")).localCheckpoint()) {
        (color, _) =>
          val upd = er.join(color.select(col("node").as("src"),
              col("c").as("cs")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(max(col("cs")).as("cin"))
          val nc = color.join(upd, Seq("node"), "left")
            .select(col("node"),
              greatest(col("c"), coalesce(col("cin"), col("c"))).as("c"))
            .localCheckpoint()
          (nc, nc.alias("n").join(color.alias("o"), Seq("node"))
            .filter(col("n.c") =!= col("o.c")).isEmpty)
      }
      // 2. backward collect from roots within each color class
      val roots = color.filter(col("node") === col("c"))
        .select(col("node"), col("c").as("root")).localCheckpoint()
      val ((sccF, _), _) = Fixpoint("scc collect", inner)((roots, roots)) {
        case ((sccF, frontier), _) =>
          val next = er.join(frontier.select(col("node").as("dst"),
              col("root")), Seq("dst"))
            .select(col("src").as("node"), col("root")).distinct()
            .join(color, Seq("node"))
            .filter(col("c") === col("root"))
            .select(col("node"), col("root"))
            .join(sccF, Seq("node"), "left_anti")
            .localCheckpoint()
          if (next.isEmpty) ((sccF, frontier), true)
          else ((sccF.unionByName(next).localCheckpoint(), next), false)
      }
      // 3. retire the finished components
      val rest = remaining.join(sccF, Seq("node"), "left_anti")
        .localCheckpoint()
      ((out.unionByName(sccF).localCheckpoint(), rest), rest.isEmpty)
    }
    // canonical label: the component's MIN member id
    val lbl = out.groupBy(col("root")).agg(min(col("node")).as("scc"))
    out.join(lbl, Seq("root")).select(col("node"), col("scc"))
  }

  /** q239 — SCC over the item-transition digraph: items are strongly
    * connected when users' event streams flow between them in BOTH
    * directions (the "browsing basin" structure a session-graph
    * analysis wants; weakly-connected CC would collapse one-way feeder
    * items into the basin). Edges: consecutive-event item pairs per
    * user WITHIN a 30-minute session gap (the q233 boundary rule at
    * item granularity), deduplicated — session-bounding is what gives
    * the fixture a real spectrum: all-singleton at sf0.001 (pure DAG),
    * a 98-node basin + 2 singletons at sf0.01, one giant SCC at
    * sf0.1, so every branch of the coloring loop runs somewhere.
    * Spark side is [[scc]]; the DuckDB oracle takes the transitive
    * closure and intersects it with its transpose — mutual
    * reachability stated declaratively, labels = min member on both
    * sides.
    */
  val q239 = oracled(
    "q239_item_scc",
    "strongly connected components of the item-transition digraph == closure ∩ transpose oracle",
    s"""WITH RECURSIVE ev AS (SELECT user_id, event_id % 100 AS item,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
       nx AS (SELECT item AS a, lead(item) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS b,
           lead(us) OVER (PARTITION BY user_id
             ORDER BY us, event_id) - us AS gap
         FROM ev),
       e AS (SELECT DISTINCT a AS src, b AS dst FROM nx
         WHERE b IS NOT NULL AND a <> b AND gap <= 1800000000),
       vtx AS (SELECT DISTINCT item AS node FROM ev),
       reach(a, b) AS (
         SELECT src, dst FROM e
         UNION
         SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
       mutual AS (SELECT r1.a, r1.b FROM reach r1
         JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
       lab AS (SELECT n.node,
           LEAST(n.node, COALESCE(MIN(m.b), n.node)) AS scc
         FROM vtx n LEFT JOIN mutual m ON m.a = n.node GROUP BY n.node)
       SELECT node AS item_id, CAST(scc AS BIGINT) AS scc,
         CAST(COUNT(*) OVER (PARTITION BY scc) AS BIGINT) AS scc_size
       FROM lab ORDER BY item_id""") { (s, dir) =>
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 100).as("item"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val e = ev.withColumn("b", lead(col("item"), 1).over(wu))
      .withColumn("gap", lead(col("us"), 1).over(wu) - col("us"))
      .filter(col("b").isNotNull && col("item") =!= col("b") &&
        col("gap") <= 1800000000L)
      .select(col("item").as("src"), col("b").as("dst")).distinct()
    val vtx = ev.select(col("item").as("node")).distinct()
    scc(e, vtx)
      .withColumn("scc_size",
        count(lit(1)).over(Window.partitionBy(col("scc"))).cast("long"))
      .select(col("node").as("item_id"), col("scc"), col("scc_size"))
      .orderBy(col("item_id"))
  }

  /** Connected-component labels as a first-class graph API (VERDICT r9
    * #7c): `(node, component = component min id)` for every node in
    * `nodes`. Thin adapter over the pointer-doubled min-label
    * propagation that has powered the dedup family since r4
    * ([[Dedup.connectedComponents]] — see q73's scaladoc for the
    * algorithm, its convergence bound, and the singleton fast path);
    * exposing it here makes the graph family and the dedup family
    * provably share ONE implementation (GraphSpec pins the q73
    * equivalence) instead of growing a second CC.
    *
    * @param nodes single-column (node) node set
    * @param pairs undirected edges, ONE row per edge (either
    *              orientation; both directions are materialized inside)
    */
  def cc(nodes: DataFrame, pairs: DataFrame): DataFrame = ccRounds(nodes, pairs)._1

  /** [[cc]] together with the number of propagation rounds it ran. */
  private[graft] def ccRounds(nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    val (labels, rounds) = Dedup.connectedComponents(
      nodes.select(col(nodes.columns.head).as("doc_id")),
      pairs.select(col(pairs.columns(0)).as("doc_a"),
        col(pairs.columns(1)).as("doc_b")))
    (labels.select(col("doc_id").as("node"), col("cluster").as("component")), rounds)
  }

  /** q246 — connected components of the co-rating graph through the
    * [[cc]] API: per user, the component label (min user id in the
    * component) and component size — the community-extraction /
    * audience-segmentation primitive, and the PROOF that the dedup
    * family's CC (q73, pointer-doubling over near-dup pairs) and the
    * graph family run the same operator. The memoized co-rating edge
    * layout feeds the loop exactly as it feeds PageRank/BFS/SCC; the
    * oracle recomputes labels as a recursive-CTE transitive closure
    * with MIN-label aggregation (fixture-affordable, the q211
    * reachability pattern). Like q73: listing is per-node, sizes via
    * one component-keyed window.
    */
  val q246 = oracled(
    "q246_graph_components",
    "co-rating graph connected components via the shared pointer-doubling cc API",
    s"""WITH RECURSIVE $edgesCte,
       reach(u, lbl) AS (
         SELECT user_id, user_id FROM nodes
         UNION
         SELECT d.dst, r2.lbl FROM reach r2 JOIN d ON d.src = r2.u),
       comp AS (SELECT u AS user_id, MIN(lbl) AS component
         FROM reach GROUP BY u)
       SELECT user_id, CAST(component AS BIGINT) AS component,
         CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
           AS component_size
       FROM comp ORDER BY user_id""") { (s, dir) =>
    val (edges, nodes) = coRatingGraph(s, dir)
    cc(nodes.select(col("user_id")),
        edges.filter(col("src") < col("dst")).select(col("src"), col("dst")))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy(col("component"))).cast("long"))
      .select(col("node").as("user_id"), col("component"),
        col("component_size"))
      .orderBy(col("user_id"))
  }

  /** q251 — INCREMENTAL connected components by contraction: the
    * maintenance shape a 100 TB graph actually runs — yesterday's
    * converged labels are an ARTIFACT, and today's delta edges update
    * them WITHOUT re-clustering the full edge set. Construction: the
    * undirected item co-session graph (q239's transition pairs,
    * symmetrized) with each pair's FIRST occurrence time; edges split
    * at the deterministic midpoint cutoff into base (≤ cut) and delta
    * (> cut). Base labels come from one [[cc]] run; every delta edge
    * is CONTRACTED through those labels ((lb(u), lb(v)), dropped when
    * equal — already merged), and a second [[cc]] runs on the
    * contracted graph, whose node set is the base COMPONENT set —
    * delta-sized work, not corpus-sized. Final label = l2(lb(node)),
    * and min-of-mins composes: the result is the min node id of the
    * merged component, exactly what full CC computes. The oracle
    * recomputes components over ALL edges in one recursive-CTE
    * closure — equality of the incremental composition with the
    * from-scratch answer IS the gate (the q93 delta-dedup discipline,
    * lifted to graph clustering).
    */
  val q251 = oracled(
    "q251_incremental_cc",
    "delta-edge component maintenance: contract through base labels, re-cluster the contraction == full CC",
    s"""WITH RECURSIVE ev AS (SELECT user_id, event_id % 100 AS item,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
       nx AS (SELECT item AS a, lead(item) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS b,
           lead(us) OVER (PARTITION BY user_id
             ORDER BY us, event_id) - us AS gap,
           us FROM ev),
       p AS (SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
         FROM nx WHERE b IS NOT NULL AND a <> b AND gap <= 1800000000
         GROUP BY 1, 2),
       d AS (SELECT u AS src, v AS dst FROM p
             UNION ALL SELECT v, u FROM p),
       vtx AS (SELECT DISTINCT item AS node FROM ev),
       reach(s, n) AS (
         SELECT node, node FROM vtx
         UNION
         SELECT r.s, d.dst FROM reach r JOIN d ON d.src = r.n),
       comp AS (SELECT n AS node, MIN(s) AS component
         FROM reach GROUP BY n)
       SELECT node AS item_id, CAST(component AS BIGINT) AS component,
         CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
           AS component_size
       FROM comp ORDER BY item_id""") { (s, dir) =>
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 100).as("item"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val pairs = ev.withColumn("b", lead(col("item"), 1).over(wu))
      .withColumn("gap", lead(col("us"), 1).over(wu) - col("us"))
      .filter(col("b").isNotNull && col("item") =!= col("b") &&
        col("gap") <= 1800000000L)
      .select(least(col("item"), col("b")).as("u"),
        greatest(col("item"), col("b")).as("v"), col("us"))
      .groupBy(col("u"), col("v")).agg(min(col("us")).as("etime"))
      .localCheckpoint() // consumed by bounds, base, and delta branches
    val cut = pairs.agg(expr("(min(etime) + max(etime)) div 2").as("cut"))
    val split = pairs.crossJoin(broadcast(cut))
    val base = split.filter(col("etime") <= col("cut")).select(col("u"), col("v"))
    val delta = split.filter(col("etime") > col("cut")).select(col("u"), col("v"))
    val nodes = ev.select(col("item").as("node")).distinct()
    val lb = cc(nodes, base).localCheckpoint() // yesterday's artifact
    // contract delta edges through the base labels; equal endpoints are
    // already-merged pairs and drop out
    val dl = delta
      .join(lb.select(col("node").as("u"), col("component").as("cu")), Seq("u"))
      .join(lb.select(col("node").as("v"), col("component").as("cv")), Seq("v"))
      .filter(col("cu") =!= col("cv"))
      .select(least(col("cu"), col("cv")).as("a"),
        greatest(col("cu"), col("cv")).as("b"))
      .distinct()
    val l2 = cc(lb.select(col("component")).distinct(), dl)
      .toDF("component", "final") // (supernode = base label, merged label)
    lb.join(l2, Seq("component"))
      .select(col("node").as("item_id"), col("final").as("component"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy(col("component"))).cast("long"))
      .orderBy(col("item_id"))
  }

  /** q252 — TEMPORAL (time-respecting) reachability: earliest arrival
    * from the seed items when an edge can only be taken AT its
    * timestamp and never before you have arrived — the semantics
    * static reachability gets WRONG on interaction graphs (A→B at
    * noon then B→C at 9am is not a path; q154's BFS would say it is).
    * Edges are the item-transition events (one (src, dst, t) row per
    * transition, times kept — multiplicity matters here, unlike
    * q239's distinct pairs) on a deterministic user slice; arrival
    * times are RELATIVE to the slice's first event so seeds start at
    * 0. The Spark side is the q221 frontier label-correcting loop
    * with the temporal admission rule (an edge relaxes only if
    * t ≥ arr(src); improvements only ever DECREASE arrivals, and a
    * smaller arrival only ADMITS MORE edges, so the fixpoint is the
    * true minimum); the oracle grows the (node, time) closure
    * declaratively — ≤ |E| states, since every non-seed state is an
    * edge's (dst, t) — and takes MIN per node. Loud round bound, the
    * sssp discipline.
    */
  val q252 = oracled(
    "q252_temporal_reachability",
    "earliest time-respecting arrival from seed items == recursive temporal-closure oracle",
    s"""WITH RECURSIVE ev AS (SELECT user_id, event_id % 100 AS item,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events
         WHERE user_id % 5 = 0),
       t0 AS (SELECT MIN(us) AS t0 FROM ev),
       nx AS (SELECT item AS a, lead(item) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS b,
           lead(us) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS bus,
           lead(us) OVER (PARTITION BY user_id
             ORDER BY us, event_id) - us AS gap
         FROM ev),
       e AS (SELECT DISTINCT a AS src, b AS dst, bus - t0.t0 AS t
         FROM nx CROSS JOIN t0
         WHERE b IS NOT NULL AND a <> b AND gap <= 1800000000),
       seeds AS (SELECT DISTINCT item AS node FROM ev WHERE item % 10 = 0),
       reach(n, t) AS (
         SELECT node, CAST(0 AS BIGINT) FROM seeds
         UNION
         SELECT e.dst, e.t FROM reach r JOIN e
           ON e.src = r.n AND e.t >= r.t)
       SELECT n AS item_id, CAST(MIN(t) AS BIGINT) AS arrival_us
       FROM reach GROUP BY n ORDER BY item_id""") { (s, dir) =>
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .filter(col("user_id") % 5 === 0)
      .select(col("user_id"), (col("event_id") % 100).as("item"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val t0 = ev.agg(min(col("us")).as("t0"))
    val edges = ev.withColumn("b", lead(col("item"), 1).over(wu))
      .withColumn("bus", lead(col("us"), 1).over(wu))
      .withColumn("gap", col("bus") - col("us"))
      .filter(col("b").isNotNull && col("item") =!= col("b") &&
        col("gap") <= 1800000000L)
      .crossJoin(broadcast(t0))
      .select(col("item").as("src"), col("b").as("dst"),
        (col("bus") - col("t0")).as("t"))
      .distinct()
      .localCheckpoint() // static relation for the rounds
    val seeds = ev.filter(col("item") % 10 === 0)
      .select(col("item").as("node")).distinct()
    temporalEarliestArrival(edges, seeds)
      .select(col("node").as("item_id"), col("dist").as("arrival_us"))
      .orderBy(col("item_id"))
  }

  /** q252's loop, factored for the hand-built-graph spec: earliest
    * time-respecting arrival per reachable node. `edges` has
    * (src, dst, t); `seeds` a single `node` column (arrival 0 — times
    * must be ≥ 0). [[relax]] with the temporal admission rule
    * t ≥ arr(src) and candidate arrival t. Output (node, dist).
    */
  private[graft] def temporalEarliestArrival(edges: DataFrame, seeds: DataFrame): DataFrame =
    relax("temporal reachability", edges, seeds, 200, col("t") >= col("dist"), col("t"))

  // ------------------------------------------------ Borůvka spanning forest

  /** Borůvka MAXIMUM spanning forest over a canonical undirected edge
    * list (ua < ub, BIGINT cnt) under the TOTAL order (cnt DESC, ua,
    * ub) — the tie-break makes every weight comparison strict, so THE
    * msf is unique and both engines select the identical edge set (cut
    * property: each round's per-component argmax edge crosses the
    * component/rest cut, hence belongs to the unique msf). Each round:
    * (1) edges map to their endpoints' current labels and drop
    * intra-component rows; (2) every component picks its best incident
    * edge with ONE `min(struct(-cnt, ua, ub))` aggregate — lexicographic
    * struct comparison IS the tie-broken argmax, a partial-aggregable
    * shuffle on the label key; (3) the chosen component graph is
    * contracted with the shared [[cc]] pointer-doubling and node labels
    * re-map through the contraction (min-of-mins composes — the q251
    * discipline). Components at least halve per round ⇒ ≤ ⌈log₂ V⌉
    * rounds, each a bounded-key equi-join: edges never move; only the
    * V-sized label table updates — the canonical distributed MST shape
    * (Borůvka is the only classical MST algorithm with no serial
    * edge-ordering dependency, which is why it is the distributed one).
    * Loud round failsafe, the sssp discipline.
    *
    * Cost shape: the wall-clock at fixture scale (~7 s at sf0.1) is
    * ~40 SEQUENTIAL driver-coordinated jobs — ⌈log₂ V⌉ rounds × (one
    * argmax materialization + the shared [[cc]]'s pointer-doubling
    * fixpoint on the chosen forest) — on a 100-node graph, i.e. pure
    * per-job overhead, not data volume. At cluster scale the SAME ≤
    * log V round structure amortizes over arbitrarily large edge sets;
    * the per-round work is flat shuffles that parallelize, which is
    * the entire point of the algorithm choice.
    */
  private[graft] def boruvkaMsf(nodes: DataFrame, und: DataFrame,
      maxRounds: Int = 40): DataFrame = {
    val keyed = und.select(col("ua"), col("ub"), col("cnt"),
        struct((-col("cnt")).as("nc"), col("ua").as("ka"),
          col("ub").as("kb")).as("k"))
      .localCheckpoint() // scanned once per round; lineage stays O(1)
    val lbl0 = nodes.select(col("node"), col("node").as("lbl"))
      .localCheckpoint(false) // lazy (r17): round 1's chosen action pins it
    // accumulated msf: a union of per-round CHECKPOINTED chosen frames,
    // so the lineage stays one shallow union node — no per-round msf
    // re-checkpoint (rounds are ≤ ⌈log₂ V⌉, the union stays small)
    val msf0 = keyed.select(col("ua"), col("ub"), col("cnt")).limit(0)
    val ((msf, _), _) = Fixpoint("boruvkaMsf (halving invariant broken? " +
        "labels must contract every round)", maxRounds)((msf0, lbl0)) {
      case ((msf, lbl), _) =>
        val el = keyed
          .join(lbl.select(col("node").as("ua"), col("lbl").as("la")), Seq("ua"))
          .join(lbl.select(col("node").as("ub"), col("lbl").as("lb")), Seq("ub"))
          .filter(col("la") =!= col("lb"))
        // each inter-component edge is a candidate for BOTH endpoints;
        // empty chosen ⟺ no inter-component edge left, so ONE materialized
        // frame serves the termination check, the msf append, and the
        // contraction (the first draft checkpointed el separately — one
        // extra job per round for nothing)
        val cand = el.select(col("la").as("comp"), col("k"))
          .unionByName(el.select(col("lb").as("comp"), col("k")))
        val chosen = cand.groupBy(col("comp")).agg(min(col("k")).as("k"))
          .select(col("k.ka").as("ua"), col("k.kb").as("ub"),
            (-col("k.nc")).as("cnt"))
          .distinct() // one edge may be both endpoints' argmax
          .localCheckpoint()
        if (chosen.isEmpty) ((msf, lbl), true)
        else {
          val ce = chosen
            .join(lbl.select(col("node").as("ua"), col("lbl").as("la")), Seq("ua"))
            .join(lbl.select(col("node").as("ub"), col("lbl").as("lb")), Seq("ub"))
            .select(col("la"), col("lb"))
          val l2 = cc(lbl.select(col("lbl")).distinct(), ce).toDF("lbl", "nl")
          val next = lbl.join(l2, Seq("lbl"))
            .select(col("node"), col("nl").as("lbl"))
            // lazy (r17): the next round's chosen action (or the final
            // msf consumer) pins it — one fewer barrier per round
            .localCheckpoint(false)
          ((msf.unionByName(chosen), next), false)
        }
    }
    msf
  }

  /** q263 — Borůvka maximum spanning forest of the item co-session
    * graph (q251's transition pairs, weight = transition multiplicity):
    * the backbone-extraction primitive — the tree of strongest
    * item-item affinities, the classic taxonomy/market-basket skeleton.
    * Unique weights by the (cnt DESC, ua, ub) tie-break ⇒ the msf is
    * unique and hash-exact. The oracle is KRUSKAL, not Borůvka — a
    * recursive CTE walks the edges in rank order carrying the full
    * label vector as a LIST (the item catalog is dense 0..99 by
    * construction, so position i+1 IS node i's label and the state is
    * one bounded row per step at ANY scale factor — no cap needed, the
    * recursion is O(E·V) = O(4950·100) worst case). Two genuinely
    * different MST algorithms agreeing on the exact edge set IS the
    * gate. CTEs MATERIALIZED for the DuckDB inlining reason documented
    * at [[edgesCte]] (se would otherwise re-evaluate per recursion
    * step).
    */
  val q263 = oracled(
    "q263_boruvka_msf",
    "Borůvka maximum spanning forest == Kruskal recursive-CTE oracle (unique total order)",
    s"""WITH RECURSIVE ev AS MATERIALIZED (SELECT user_id,
           event_id % 100 AS item,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
       nx AS MATERIALIZED (SELECT item AS a,
           lead(item) OVER (PARTITION BY user_id ORDER BY us, event_id) AS b,
           lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
             AS gap
         FROM ev),
       p AS MATERIALIZED (SELECT LEAST(a, b) AS ua, GREATEST(a, b) AS ub,
           COUNT(*) AS cnt
         FROM nx WHERE b IS NOT NULL AND a <> b AND gap <= 1800000000
         GROUP BY 1, 2),
       se AS MATERIALIZED (SELECT ua, ub, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, ua, ub) AS rk FROM p),
       st(rk, lbls) AS (
         SELECT 0, (SELECT LIST(i ORDER BY i) FROM range(0, 100) t(i))
         UNION ALL
         SELECT s.rk + 1,
           CASE WHEN s.lbls[e.ua + 1] <> s.lbls[e.ub + 1]
             THEN list_transform(s.lbls, x -> CASE
               WHEN x = GREATEST(s.lbls[e.ua + 1], s.lbls[e.ub + 1])
               THEN LEAST(s.lbls[e.ua + 1], s.lbls[e.ub + 1]) ELSE x END)
             ELSE s.lbls END
         FROM st s JOIN se e ON e.rk = s.rk + 1),
       sel AS (SELECT e.ua, e.ub, e.cnt FROM se e JOIN st s ON s.rk = e.rk - 1
         WHERE s.lbls[e.ua + 1] <> s.lbls[e.ub + 1])
       SELECT ua AS item_a, ub AS item_b, CAST(cnt AS BIGINT) AS weight
       FROM sel ORDER BY item_a, item_b""") { (s, dir) =>
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 100).as("item"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val und = ev.withColumn("b", lead(col("item"), 1).over(wu))
      .withColumn("gap", lead(col("us"), 1).over(wu) - col("us"))
      .filter(col("b").isNotNull && col("item") =!= col("b") &&
        col("gap") <= 1800000000L)
      .select(least(col("item"), col("b")).as("ua"),
        greatest(col("item"), col("b")).as("ub"))
      .groupBy(col("ua"), col("ub")).agg(count(lit(1)).as("cnt"))
    val nodes = ev.select(col("item").as("node")).distinct()
    boruvkaMsf(nodes, und)
      .select(col("ua").as("item_a"), col("ub").as("item_b"),
        col("cnt").cast("long").as("weight"))
      .orderBy(col("item_a"), col("item_b"))
  }

  // ------------------------------------------------- butterfly counting

  /** Per-item user-list cap for [[q285]] — the [[CoRatingGroupCap]]
    * mechanism on the bipartite item side: wedge enumeration through
    * items costs Σ C(deg_item, 2), and the fixture already shows the
    * quadratic (max item degree 753 at sf0.1 → 27M wedges; ~7.5k at
    * the 10× bench → 2.8B — unrunnable). Items above the cap keep the
    * cap-smallest users under the seedless (hash, user_id) total
    * order; the IDENTICAL predicate runs in the oracle CTE, so when
    * the cap bites both engines still agree exactly — a declared
    * semantics, not a silent approximation. At the oracle fixtures
    * (≤753 < 1000) the count is the exact uncapped one.
    */
  private[graft] val ButterflyCap: Long =
    capSetting("graft.butterfly.itemCap", "GRAFT_BUTTERFLY_ITEM_CAP", 1000L)

  /** q285 — BUTTERFLY COUNTING in the bipartite user–item graph
    * (butterfly = 2×2 biclique, the bipartite analogue of the
    * triangle; Sanei-Mehri/Sariyüce/Tirthapura KDD '18 — the motif
    * behind bipartite clustering coefficients and fraud-ring
    * detection in rating graphs): with w(u,v) = |N(u) ∩ N(v)| common
    * items per user pair, the per-pair butterfly count is C(w,2),
    * a user's participation is Σ_v C(w(u,v),2), and the global count
    * is Σ_{u<v} C(w,2). Ledger: top-20 users by participation, each
    * row carrying the global total.
    *
    * Scale shape: wedges are enumerated through the BOUNDED side
    * (100 items; the algorithm's side-selection rule — Σ deg² is
    * minimized on the item side by construction) under
    * [[ButterflyCap]], so the self-join is Σ min(deg, cap)² ≤
    * #items·cap²; the pair weights come out of ONE partial-aggregable
    * groupBy(u, v); participation is a two-sided unpivot + groupBy
    * (user-bounded); the top-20 is a window over the user-sized score
    * table. C(w,2) stays exact: w ≤ 100 by the item-domain bound.
    */
  val q285 = oracled(
    "q285_butterfly_count",
    "bipartite butterfly participation per user (top 20) + global count, item-capped wedges",
    s"""WITH bp AS MATERIALIZED (SELECT DISTINCT user_id,
           event_id % 100 AS item FROM events),
       bc AS MATERIALIZED (SELECT user_id, item FROM (
           SELECT user_id, item, ROW_NUMBER() OVER (PARTITION BY item
             ORDER BY (user_id % 100003) * 2654435761 % 1000000007,
               user_id) AS rn
           FROM bp) t WHERE rn <= $ButterflyCap),
       pw AS MATERIALIZED (SELECT a.user_id AS u, b.user_id AS v,
           CAST(COUNT(*) AS BIGINT) AS w
         FROM bc a JOIN bc b ON a.item = b.item
           AND a.user_id < b.user_id
         GROUP BY 1, 2),
       pb AS MATERIALIZED (SELECT u, v, w * (w - 1) // 2 AS b
         FROM pw WHERE w >= 2),
       tot AS (SELECT CAST(COALESCE(SUM(b), 0) AS BIGINT) AS total_bflies
         FROM pb),
       pu AS (SELECT user_id, CAST(SUM(b) AS BIGINT) AS bfly FROM (
           SELECT u AS user_id, b FROM pb
           UNION ALL SELECT v, b FROM pb) s
         GROUP BY 1),
       rk AS (SELECT user_id, bfly,
           ROW_NUMBER() OVER (ORDER BY bfly DESC, user_id) AS rank
         FROM pu)
       SELECT CAST(rank AS BIGINT) AS rank, user_id, bfly,
         tot.total_bflies
       FROM rk CROSS JOIN tot WHERE rank <= 20 ORDER BY rank""") {
    (s, dir) =>
    val bp = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 100).as("item"))
      .distinct()
    val wCap = Window.partitionBy(col("item"))
      .orderBy(expr("(user_id % 100003) * 2654435761 % 1000000007"),
        col("user_id"))
    val bc = bp.withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= ButterflyCap).drop("__rn")
    // r16 optimization (guide §2.5/§3.1): the wedge self-join EXPLODES
    // (Σ min(deg,cap)² rows out of a capped, few-MB input), and AQE
    // coalesces the pre-join shuffle by INPUT size — it cannot see the
    // multiplication, so the explosion ran in 1-2 tasks (probe: 13.1 s
    // of taskTime in a 13.3 s wall — zero parallelism). True at any
    // scale: the capped projection is ≤ #items·cap rows even on a
    // 100 TB corpus. Fix: BROADCAST one (cap-bounded) side and spread
    // the probe side round-robin at the CONFIGURED parallelism (never
    // a local constant; AQE keeps explicit-N repartitions) — the
    // explosion is then evenly spread regardless of item skew, where
    // an item-keyed shuffle join would still serialize a hot item.
    val sp = bp.sparkSession.sessionState.conf.numShufflePartitions
    val pw = bc.select(col("user_id").as("u"), col("item"))
      .repartition(sp)
      .join(broadcast(bc.select(col("user_id").as("v"), col("item"))),
        Seq("item"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    // read three times below (total, both unpivot arms) — materialize
    // once, lineage stays O(1)
    val pb = pw.filter(col("w") >= 2)
      .select(col("u"), col("v"),
        expr("w * (w - 1) div 2").as("b"))
      .localCheckpoint(false)
    val tot = pb.agg(coalesce(sum(col("b")), lit(0L)).as("total_bflies"))
    val pu = pb.select(col("u").as("user_id"), col("b"))
      .union(pb.select(col("v").as("user_id"), col("b")))
      .groupBy(col("user_id")).agg(sum(col("b")).as("bfly"))
    // r17 (§2.1): top-20 via orderBy+limit — no vertex-sized
    // single-partition rank window
    pu.orderBy(col("bfly").desc, col("user_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bfly").desc,
          col("user_id"))).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("user_id"), col("bfly"),
        col("total_bflies"))
      .orderBy(col("rank"))
  }

  val all: Seq[GQuery] = Seq(q152, q154, q162, q166, q170, q171, q172, q173,
    q180, q188, q200, q211, q221, q239, q246, q251, q252, q263, q281, q285,
    q313)
}
