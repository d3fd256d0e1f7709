package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.oracled
import graft.sources.Tables
import graft.functions.RollingHash

/** Deduplication operators for a training-data pipeline (north-star set):
  * exact, MinHash-LSH, SimHash, and n-gram Jaccard — each as an
  * oracle-checked query over `documents`.
  *
  * Scale design: nothing here is O(n²) on the Spark side. Exact dedup is
  * a hash aggregate; MinHash pairs come from band-bucket equi-joins;
  * SimHash pairs come from a pigeonhole chunk-join (T+1 chunks guarantee
  * a clean chunk at Hamming distance ≤ T, so the band join is *exactly*
  * equivalent to the brute-force O(n²) scan the DuckDB oracle runs);
  * Jaccard is blocked on (lang, source). At 100 TB each stage is a plain
  * shuffle on a bounded key space.
  */
object Dedup {

  private[graft] val P = RollingHash.DefaultMod // 1000000007

  /** q44 — exact dedup: corpus-level duplicate accounting via distinct
    * text (the `dropDuplicates` operator expressed as its aggregate
    * equivalent so DuckDB can check it).
    */
  val q44 = oracled(
    "q44_dedup_exact",
    "exact duplicate accounting (count vs distinct text)",
    """SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT text) AS n_distinct_texts,
       COUNT(*) - COUNT(DISTINCT text) AS n_duplicate_docs,
       COUNT(DISTINCT lang) AS n_langs
       FROM documents""") { (s, dir) =>
    Tables.documents(s, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_duplicate_docs"),
        countDistinct(col("lang")).as("n_langs"))
  }

  // ------------------------------------------------- shared tokenized corpus

  /** The tokenized corpus — (doc_id, lang, source, toks) — MATERIALIZED
    * once per (context, data dir) and shared by every token-consuming
    * dedup stage: MinHash (q45, distinct tokens), SimHash (q46/q47, all
    * occurrences), n-gram Jaccard (q48, adjacent pairs) and the pipeline
    * summary's token accounting (q83). In a production pipeline the
    * tokenized corpus is a persisted artifact every dedup detector
    * consumes — splitting the same 100 TB of text once per detector is
    * the kind of repeated scan this memo eliminates.
    */
  private[graft] def tokenized(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "tokenized")(
      tokensOf(Tables.documents(s, dir)))

  /** (doc_id, lang, source, toks) from a raw documents frame — the
    * un-memoized form, used directly by equivalence specs on synthetic
    * corpora.
    */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      split(trim(col("text")), " ").as("toks"))

  // ---------------------------------------------------------------- MinHash

  // exposed to graft so equivalence specs verify against the SAME LSH
  // scheme instead of re-deriving these constants
  private[graft] val NumHashes = 16
  private[graft] val BandSize = 4
  private[graft] val NumBands = NumHashes / BandSize
  private[graft] def permA(i: Int): Long = 17L + 2L * i
  private[graft] def permB(i: Int): Long = 91L + 5L * i

  /** Per-doc MinHash signature (ARRAY<BIGINT> of [[NumHashes]] mins)
    * over distinct-token rolling hashes, computed by the native
    * [[graft.functions.MinHashAgg]] — one aggregate buffer updating all
    * permutations in a tight loop instead of [[NumHashes]] separate
    * MIN(pmod(...)) slots. Bit-identical to the per-slot formulation
    * the DuckDB oracle runs ([[minhashSql]]).
    */
  private[graft] def minhashSignatures(tokdf: DataFrame): DataFrame = {
    import graft.functions.MinHashAgg.minhashAgg
    val tok = tokdf.select(col("doc_id"),
      explode(array_distinct(col("toks"))).as("tok"))
      .withColumn("h", RollingHash.rollingHash(col("tok")))
    val perms = (0 until NumHashes).map(i => (permA(i), permB(i)))
    tok.groupBy(col("doc_id"))
      .agg(minhashAgg(col("h"), perms, P).as("mh"))
  }

  /** The minhash→signature→band-join derivation as CTE text (through
    * `pairs`), shared by q45's oracle and q255's closure oracle.
    */
  private def minhashPairCtes: String = minhashPairCtes("")

  /** Same derivation restricted by an optional WHERE predicate on
    * `documents` — q259's retained-corpus oracle reuses the full
    * pipeline text with only the source filtered.
    */
  private def minhashPairCtes(where: String): String = {
    val mins = (0 until NumHashes)
      .map(i => s"MIN((h*${permA(i)} + ${permB(i)}) % $P) AS mh$i").mkString(",\n           ")
    val sigs = (0 until NumBands).map { b =>
      val cols = (0 until BandSize).map(j => s"mh${b * BandSize + j}")
      s"CONCAT(${cols.mkString(", '-', ")}) AS sig$b"
    }.mkString(",\n           ")
    val bandJoins = (0 until NumBands).map { b =>
      s"""SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM sig x JOIN sig y ON x.sig$b = y.sig$b AND x.doc_id < y.doc_id"""
    }.mkString("\n          UNION\n          ")
    s"""tok AS (
         SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tok
         FROM documents $where),
       th AS (SELECT doc_id, ${RollingHash.duckSql("tok")} AS h FROM tok),
       mh AS (SELECT doc_id,
           $mins
         FROM th GROUP BY doc_id),
       sig AS (SELECT doc_id,
           $sigs
         FROM mh),
       pairs AS (
          $bandJoins)"""
  }

  private def minhashSql: String =
    s"""WITH $minhashPairCtes
       SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b"""

  /** Label every doc with its signature-group id — a persisted table
    * artifact like `tokenized` ((doc_id, mh, gid): one row per doc,
    * gid = min doc_id sharing its full signature). Shared by q45 (pair
    * listing) and q255 (pair-free clustering).
    */
  private[graft] def labeledSignatures(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "minhash_groups")( {
      val sigs = minhashSignatures(tokenized(s, dir))
      // group-rep labeling as groupBy + equi-join, NOT min().over(
      // partitionBy(mh)): the signature domain is LOW-cardinality by
      // design (35 distinct per 5000 docs at sf0.1 — dup clusters share
      // a signature), so a window partitioned on it is one task per
      // signature group at scale (the round-6 rule). The groupBy side is
      // sigs-sized (AQE broadcasts it at any realistic scale) and the
      // join back is a plain balanced key shuffle on the doc side.
      sigs.join(sigs.groupBy(col("mh")).agg(min(col("doc_id")).as("gid")),
          Seq("mh"))
    })

  /** One row per DISTINCT signature per band — the collision-join side.
    * Shared with [[graft.streaming.ClusterStream]], whose incremental
    * step must band-key its micro-batches with the IDENTICAL scheme.
    */
  private[graft] def bandReps(labeled: DataFrame): DataFrame =
    labeled.filter(col("doc_id") === col("gid"))
      .select(col("gid"),
        posexplode(array((0 until NumBands).map { b =>
          concat_ws("-", (0 until BandSize).map(j =>
            element_at(col("mh"), b * BandSize + j + 1)): _*)
        }: _*)).as(Seq("band", "sig")))

  /** q45 — MinHash-LSH near-dup candidates: shingle→minhash→band→
    * bucket-join. 16 hashes, 4 bands × 4 rows (candidate threshold
    * j ≈ (1/4)^(1/4) ≈ 0.7).
    *
    * TWO-LEVEL banding: documents are first grouped by their FULL
    * signature (a corpus with duplicate clusters has far fewer distinct
    * signatures than documents — the fixture has 35 across 5000 docs at
    * sf0.1), the band equi-join runs over the distinct signatures only,
    * and group membership expands signature-pairs back to document
    * pairs. Same-signature documents agree on every band, so all
    * within-group pairs are candidates by construction; two distinct
    * signatures collide iff they agree on ≥ 1 band — exactly the
    * one-level semantics, so the brute-force band-join oracle still
    * hash-matches. The win: each output pair is generated EXACTLY once
    * (groups are disjoint, group-pairs dedupe on ≤ sigs² keys), so the
    * multi-million-row pair `distinct()` of the one-level form — the
    * round-2 bench's slowest stage — disappears; the plan never
    * shuffles more than (distinct-signature × band) rows plus the
    * final output. Worst case (all signatures unique) degenerates to
    * exactly the one-level band join, never worse.
    *
    * The pair table is a PARQUET ARTIFACT ("minhash_pairs", r16) like
    * its SimHash sibling `simhash_pairs`: it is the corpus-sized
    * derived table every MinHash-side consumer starts from, so a
    * production run lays it down once and every later run — and the
    * listing query itself — is a file scan. Before the conversion each
    * sf1 board paid the band join TWICE (memo warmup + the timed
    * query, ~80 s of a 469 s board); warm boards now pay a read.
    */
  val q45 = oracled(
    "q45_dedup_minhash_lsh",
    "MinHash-LSH banding candidate pairs (16 hashes, 4 bands)",
    minhashSql) { (s, dir) =>
    minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** The q45 candidate-pair table as a cross-run artifact (build
    * documented on q45; consumers scan parquet with pushdown).
    */
  private[graft] def minhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "minhash_pairs")( {
      val labeled = labeledSignatures(s, dir)
      val members = labeled.select(col("gid"), col("doc_id"))
      val reps = bandReps(labeled)
      val gx = reps.alias("gx")
      val gy = reps.alias("gy")
      val candGroups = gx.join(gy,
          col("gx.band") === col("gy.band") && col("gx.sig") === col("gy.sig")
            && col("gx.gid") < col("gy.gid"))
        .select(col("gx.gid").as("g1"), col("gy.gid").as("g2"))
        .distinct() // over signature-group pairs — bounded by sigs², not docs²
      val within = members.alias("m1").join(members.alias("m2"),
          col("m1.gid") === col("m2.gid") && col("m1.doc_id") < col("m2.doc_id"))
        .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"))
      val cross = candGroups
        .join(members.alias("ma"), col("g1") === col("ma.gid"))
        .join(members.alias("mb"), col("g2") === col("mb.gid"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"))
      within.union(cross)
    })

  // ---------------------------------------------------------------- SimHash

  private val SimBits = 48

  /** Per-doc 48-bit SimHash from token-frequency bit votes, computed by
    * the native [[graft.functions.SimHashAgg]] — ONE partial-aggregated
    * buffer per doc (a 48-int vote vector updated in a tight loop)
    * instead of 48 SUM(CASE) aggregate slots each re-evaluating a
    * shift/mask per row. Bit-identical to the SUM(CASE) formulation the
    * DuckDB oracle runs ([[simhashCte]]).
    *
    * Fingerprints are MATERIALIZED once per data dir (localCheckpoint +
    * memo) and shared by q46 (listing), q47 (pair join) and q73/q83
    * (clustering) — in a production pipeline the fingerprint table is a
    * persisted artifact consumed by every downstream dedup stage, not
    * recomputed per query. O(1 row × 2 longs) per document held.
    */
  private def simhashes(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "simhash")(
      simhashOfTokens(tokenized(s, dir)))

  /** (doc_id, simhash) from a (doc_id, ..., toks) frame — the
    * un-memoized form, shared by the corpus memo above, the streaming
    * intake ([[graft.streaming.NearDupStream]], which fingerprints each
    * micro-batch with bit-identical semantics), and equivalence specs.
    */
  private[graft] def simhashOfTokens(tokdf: DataFrame): DataFrame = {
    import graft.functions.SimHashAgg.simhashAgg
    tokdf.select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h",
        RollingHash.rollingHash(col("tok"), RollingHash.WideBase, RollingHash.WideMod))
      .groupBy(col("doc_id"))
      .agg(simhashAgg(col("h"), SimBits).as("simhash"))
  }

  private def simhashCte: String = {
    val sums = (0 until SimBits)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n           ")
    val simExpr = (0 until SimBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""tok AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
       th AS (SELECT doc_id,
         ${RollingHash.duckSql("tok", RollingHash.WideBase, RollingHash.WideMod)} AS h
         FROM tok),
       votes AS (SELECT doc_id,
           $sums
         FROM th GROUP BY doc_id),
       sim AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM votes)"""
  }

  /** q46 — per-document SimHash fingerprint (oracle recomputes the full
    * 48-bit vote construction independently).
    */
  val q46 = oracled(
    "q46_simhash_fingerprint",
    "48-bit SimHash document fingerprints",
    s"""WITH $simhashCte
       SELECT doc_id, simhash FROM sim ORDER BY doc_id""") { (s, dir) =>
    simhashes(s, dir).orderBy(col("doc_id"))
  }

  private val HamT = 3

  /** SimHash near-dup pairs at Hamming ≤ [[HamT]] via pigeonhole chunk
    * join (see q47). Shared by q47 (the pair list) and q73/q83
    * (clustering) — materialized once per (context, dir) like the
    * fingerprints, with the chunk table's working cache released after
    * the pair table is checkpointed.
    */

  /** (doc_id, simhash, chunk_id, chunk): each fingerprint exploded into
    * its [[HamT]]+1 pigeonhole chunks — the shared candidate-generation
    * key for q47 (self-join), q93 (delta×corpus) and the streaming
    * intake's per-micro-batch joins.
    */
  private[graft] def pigeonholeChunked(df: DataFrame): DataFrame = {
    val chunks = HamT + 1            // 4 chunks of 12 bits
    val chunkBits = SimBits / chunks
    df.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1)): _*)).as(Seq("chunk_id", "chunk")))
  }

  /** Near-dup pairs (delta_doc, corpus_doc, dist ≤ [[HamT]]) of
    * delta × corpus via the pigeonhole chunk equi-join — q93's shape
    * over arbitrary fingerprint frames. `extraCond` may reference the
    * join aliases `d` (delta) and `c` (corpus), e.g. an arrival-order
    * predicate for first-writer-wins semantics.
    */
  private[graft] def nearDupJoin(delta: DataFrame, corpus: DataFrame,
      extraCond: Column = lit(true)): DataFrame =
    pigeonholeChunked(delta).alias("d")
      .join(pigeonholeChunked(corpus).alias("c"),
        col("d.chunk_id") === col("c.chunk_id") && col("d.chunk") === col("c.chunk")
          && extraCond)
      .select(col("d.doc_id").as("delta_doc"), col("c.doc_id").as("corpus_doc"),
        bit_count(col("d.simhash").bitwiseXOR(col("c.simhash"))).cast("long").as("dist"))
      .filter(col("dist") <= HamT)
      .distinct()

  // private[graft]: q197's threshold track reads one pair per doc from
  // this memo as its source of REAL high-cosine pairs (TextOps scaladoc)
  private[graft] def simhashPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "simhash_pairs")( {
      val sim = simhashes(s, dir)
      // TWO-LEVEL (the q45/q247 trick): duplicate-dense corpora have
      // far fewer DISTINCT fingerprints than documents, and identical
      // fingerprints share every chunk — so the chunk join previously
      // ran over doc-level buckets whose squares dominated the memo at
      // the 10× bench. Level 1: chunk-join + Hamming verify over
      // distinct fingerprints only (chunk id folded into the join key
      // via posexplode → ONE equi-join for all pigeonhole chunks).
      // Level 2: expand fingerprint pairs to doc pairs through group
      // membership — within a group every pair is dist 0, across
      // verified groups the distance is the fingerprint-level value.
      // Groups are disjoint, so each pair is emitted exactly once and
      // no distinct ever touches doc-level cardinality.
      val groups = sim.groupBy(col("simhash")).agg(min(col("doc_id")).as("gid"))
        .localCheckpoint()
      val chunked = pigeonholeChunked(
        groups.select(col("gid").as("doc_id"), col("simhash"))).cache()
      val x = chunked.alias("x")
      val y = chunked.alias("y")
      val gPairs = x.join(y,
          col("x.chunk_id") === col("y.chunk_id") && col("x.chunk") === col("y.chunk")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("g1"), col("y.doc_id").as("g2"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("dist"))
        // cheap bit-count filter BEFORE the distinct so the dedup shuffle
        // only carries true near-dup fingerprint pairs
        .filter(col("dist") <= HamT)
        .distinct() // over fingerprint pairs — bounded by prints², not docs²
      val mem = sim.join(groups, "simhash").select(col("gid"), col("doc_id"))
        .localCheckpoint()
      val within = mem.alias("m1").join(mem.alias("m2"),
          col("m1.gid") === col("m2.gid") && col("m1.doc_id") < col("m2.doc_id"))
        .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"),
          lit(0L).as("dist"))
      val cross = gPairs
        .join(mem.alias("ma"), col("g1") === col("ma.gid"))
        .join(mem.alias("mb"), col("g2") === col("mb.gid"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"), col("dist"))
      val pairs = within.unionByName(cross)
        .localCheckpoint() // eager: lets the chunk cache release before
                           // the artifact write re-consumes the union
      chunked.unpersist()
      pairs
    })

  /** q47 — SimHash near-dup pairs at Hamming distance ≤ 3. The Spark
    * side uses pigeonhole banding: split 48 bits into 4 chunks of 12;
    * distance ≤ 3 guarantees at least one identical chunk, so joining on
    * chunk equality then exact-filtering is *provably identical* to the
    * O(n²) scan — which is what the DuckDB oracle runs. That equivalence
    * is the 100 TB design: candidate generation is an equi-join.
    */
  val q47 = oracled(
    "q47_simhash_near_dup",
    "SimHash pairs at Hamming ≤ 3 via pigeonhole chunk join",
    s"""WITH $simhashCte
       SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist
       FROM sim x JOIN sim y ON x.doc_id < y.doc_id
       WHERE bit_count(xor(x.simhash, y.simhash)) <= $HamT
       ORDER BY doc_a, doc_b""") { (s, dir) =>
    simhashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q73 — near-duplicate CLUSTERS: connected components over the q47
    * SimHash pair graph, each document labeled with its cluster
    * representative (the component's minimum doc_id) plus the cluster
    * size. This is the step that turns pairwise candidates into a
    * keep-one-representative dedup decision — the shape every
    * training-data pipeline needs after any near-dup detector.
    *
    * Spark side: iterative min-label propagation — per round, every node
    * takes the min label over itself and its neighbors (two shuffles:
    * one join edges⋈labels, one min-aggregate), converging in
    * graph-diameter rounds; near-dup components are near-cliques, so
    * 2-3 rounds in practice, with a fixed bound of 12 and early stop on
    * a monotone convergence metric (sum of labels, strictly decreasing
    * until fixpoint). Each round materializes via localCheckpoint so the
    * plan/lineage stays O(1) per round instead of growing — the same
    * discipline GraphX/GraphFrames CC uses at cluster scale. The DuckDB
    * oracle computes the identical fixpoint declaratively with a
    * recursive CTE (semi-naive label reachability + MIN).
    */
  /** Shared CTE chain for the recursive-CTE connected-components oracle
    * (q73, q83): SimHash pairs → bidirectional edges → label
    * reachability fixpoint → per-node component minimum.
    */
  private[operators] def ccOracleCte: String =
    s"""$simhashCte,
       pairs AS (
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= $HamT),
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION ALL
         SELECT doc_b, doc_a FROM pairs),
       reach(node, lbl) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node)"""

  val q73 = oracled(
    "q73_dedup_clusters",
    "connected-component dedup clusters over SimHash near-dup pairs",
    s"""WITH RECURSIVE $ccOracleCte
       SELECT doc_id, cluster,
         CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
       FROM cc
       ORDER BY doc_id""") { (s, dir) =>
    ccLabels(s, dir)
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster")))
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** One CC computation per data dir: q73 (cluster listing) and q83
    * (pipeline summary) share the converged label table — cluster once,
    * consume many times, like the ALS fit in [[graft.ml.Recommender]].
    * Persisted as a 2-column parquet artifact (one row per doc): the
    * downstream ledgers (q331/q332/q339 …) are file scans over it.
    */
  private[operators] def ccLabels(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "cc_labels")(
      connectedComponents(
        Tables.documents(s, dir).select(col("doc_id")),
        simhashPairs(s, dir).select(col("doc_a"), col("doc_b")))._1)

  /** Connected-component labels (doc_id, cluster = component min id) for
    * every node — the engine's general CC operator (exercised directly
    * by AnalyticsSpec on a known graph; q73/q83 feed it the SimHash
    * near-dup pair graph). See q73 Scaladoc for the algorithm and its
    * scale posture.
    *
    * @param nodes single-column (doc_id) node set
    * @param pairList undirected edges as (doc_a, doc_b) rows
    * @return the labels and the number of propagation rounds run
    */
  private[graft] def connectedComponents(nodes: DataFrame,
      pairList: DataFrame): (DataFrame, Int) = {
    val pairs = pairList.cache()
    // edges pre-partitioned on the iteration join key so every round's
    // join reuses the same layout instead of re-shuffling the static side
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .cache()
    // only nodes that appear in an edge iterate; singletons (the vast
    // majority of a real corpus) never enter the loop state.
    // r17 (guide §2.4 — share the exchange): the initial label is
    // min(self, direct neighbors), computed by the SAME src-keyed
    // aggregate that previously only built the distinct node set — the
    // first propagation round rides the `connected` shuffle for free,
    // and every cc call converges one full round (≈5 stage-jobs)
    // earlier. Correctness: any start label that is (a) the id of a
    // node in the same component and (b) ≤ the node's own id keeps the
    // loop's invariants (monotone min-propagation from ids within the
    // component ⇒ same fixpoint = component min; the strictly
    // decreasing label sum still detects convergence).
    // lazy (r16 optimization): the initial label sum materializes it —
    // one fewer job barrier per cc call; the singleton anti-join
    // still reads the pinned RDD, never the released caches
    val connected = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster"))
      .select(col("src").as("doc_id"), col("cluster"))
      .localCheckpoint(false)
    // coalesce: an edge-free corpus gives an EMPTY label table, where
    // sum() is null — the loop must converge on 0, not NPE
    def labelSum(l: DataFrame): Long =
      l.agg(coalesce(sum(col("cluster")), lit(0L))).head().getLong(0)
    // pointer doubling reaches diameter ~2^rounds: 48 rounds covers any
    // graph that fits in storage; if the bound is ever hit, FAIL loudly
    // rather than return non-minimal labels as if converged
    val ((labels, _), rounds) = graft.plans.Fixpoint("connectedComponents", 48)(
        (connected, labelSum(connected))) { case ((labels, prevSum), _) =>
      val neighborMin = edges.join(labels, col("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nbr_min"))
      val stepped = labels
        .join(neighborMin, labels("doc_id") === neighborMin("dst"), "left")
        .select(labels("doc_id"),
          least(coalesce(col("nbr_min"), col("cluster")), col("cluster")).as("cluster"))
      // pointer doubling: also jump to the label OF the node named by the
      // new label, shortcutting chains so convergence is O(log diameter)
      // rounds, not O(diameter). The jump side is the PREVIOUS round's
      // label table — already checkpointed, so the propagation step above
      // executes exactly once per round (self-joining `stepped` would
      // alias its uncached plan on both sides) and each round stays ONE
      // materialization. Jumping via the old table is the classic
      // shortcut-with-old-pointers variant: still monotone, same
      // fixpoint (at convergence no neighbor improves any label, which
      // is exactly the component-min condition).
      val a = stepped.alias("a")
      val b = labels.alias("b")
      val next = a.join(b, col("a.cluster") === col("b.doc_id"), "left")
        .select(col("a.doc_id").as("doc_id"),
          least(coalesce(col("b.cluster"), col("a.cluster")), col("a.cluster")).as("cluster"))
        .localCheckpoint(false) // cut lineage: O(1) plan per round
      val nextSum = labelSum(next)
      // min-propagation strictly decreases the sum until the fixpoint
      ((next, nextSum), nextSum == prevSum)
    }
    val singletons = nodes
      .join(connected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"))
    val out = labels.union(singletons)
    pairs.unpersist(); edges.unpersist()
    (out, rounds)
  }

  /** q93 — DELTA near-dup detection: a batch of new arrivals (doc_id ≡ 0
    * mod 10 stands in for "today's crawl") checked against the EXISTING
    * corpus without ever re-pairing the corpus against itself. This is
    * the shape an operating 100 TB pipeline actually runs daily: the
    * corpus SimHash table is a persisted artifact (here: the
    * [[simhashes]] memo the whole dedup family shares), the delta
    * fingerprints once, and the pigeonhole chunk join runs
    * delta × corpus only — candidate volume scales with |delta|, not
    * |corpus|², and the corpus side never reshuffles beyond the chunk
    * key. Same Hamming ≤ [[HamT]] guarantee as q47 (≥ 1 of T+1 chunks
    * must match exactly), so the brute-force delta-vs-corpus oracle
    * hash-matches; DedupEquivalenceSpec additionally proves q93 ==
    * q47's pair set restricted to exactly-one-endpoint-in-delta.
    */
  val q93 = oracled(
    "q93_delta_near_dup",
    "delta-vs-corpus SimHash near-dups (Hamming ≤ 3) — corpus never self-joined",
    s"""WITH $simhashCte
       SELECT d.doc_id AS delta_doc, c.doc_id AS corpus_doc,
         CAST(bit_count(xor(d.simhash, c.simhash)) AS BIGINT) AS dist
       FROM sim d JOIN sim c
         ON d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         AND bit_count(xor(d.simhash, c.simhash)) <= $HamT
       ORDER BY delta_doc, corpus_doc""") { (s, dir) =>
    val sim = simhashes(s, dir)
    nearDupJoin(
      sim.filter(col("doc_id") % 10 === 0),
      sim.filter(col("doc_id") % 10 =!= 0))
      .orderBy(col("delta_doc"), col("corpus_doc"))
  }

  /** q149 — FIRST-WRITER-WINS near-dup survivor labeling: a document
    * survives iff no EARLIER document (smaller doc_id — the corpus's
    * arrival order) is within Hamming ≤ [[HamT]] of its SimHash. This
    * is the batch twin of the streaming incremental dedup
    * ([[graft.streaming.NearDupStream]]): a stream fed in doc_id order
    * must emit exactly this query's `survived = true` set, which
    * StreamingNearDupSpec asserts batch-for-batch. "Earlier" means any
    * earlier arrival, surviving or not — that makes the verdict a pure
    * pair predicate (order-independent within the pair set), so the
    * O(n²) NOT EXISTS oracle and the pigeonhole pair join agree
    * exactly, same equivalence theorem as q47.
    */
  val q149 = oracled(
    "q149_stream_near_dup_twin",
    "first-writer-wins near-dup survivors — batch twin of the streaming intake",
    s"""WITH $simhashCte
       SELECT s.doc_id, s.simhash,
         NOT EXISTS (SELECT 1 FROM sim e WHERE e.doc_id < s.doc_id
           AND bit_count(xor(e.simhash, s.simhash)) <= $HamT) AS survived
       FROM sim s ORDER BY s.doc_id""") { (s, dir) =>
    // a doc is dropped iff it appears as the LATER side (doc_b) of any
    // near-dup pair — the memoized pair table already orders doc_a < doc_b
    val dropped = simhashPairs(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("hit", lit(true))
    simhashes(s, dir)
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"), col("hit").isNull.as("survived"))
      .orderBy(col("doc_id"))
  }

  /** q83 — the composed dedup pipeline end-to-end: detect (SimHash) →
    * cluster (connected components) → keep one representative per
    * cluster (its min doc_id) → report the corpus reduction in
    * documents and tokens. This is the query a training-data pipeline
    * actually ships: everything upstream of it (q46/q47/q73) is its
    * observable intermediate state.
    */
  val q83 = oracled(
    "q83_dedup_pipeline_summary",
    "detect → cluster → keep-representative corpus reduction summary",
    s"""WITH RECURSIVE $ccOracleCte,
       toks AS (
         SELECT doc_id, len(string_split(trim(text), ' ')) AS ntok FROM documents)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_before,
         CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_docs_after,
         CAST(SUM(ntok) AS BIGINT) AS tokens_before,
         CAST(SUM(CASE WHEN cc.doc_id = cluster THEN ntok ELSE 0 END) AS BIGINT) AS tokens_after
       FROM cc JOIN toks ON cc.doc_id = toks.doc_id""") { (s, dir) =>
    val toks = tokenized(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("ntok"))
    ccLabels(s, dir).join(toks, "doc_id")
      .agg(
        count(lit(1)).as("n_docs_before"),
        countDistinct(col("cluster")).as("n_docs_after"),
        sum(col("ntok")).as("tokens_before"),
        sum(when(col("doc_id") === col("cluster"), col("ntok")).otherwise(0L))
          .as("tokens_after"))
  }

  /** q48 — word-bigram (shingle) Jaccard near-dups, blocked on
    * (lang, source), computed as an INVERTED-INDEX set-similarity join
    * (the MapReduce set-similarity join of Vernica, Carey & Li,
    * SIGMOD 2010): explode each document's distinct hashed shingles,
    * equi-join postings within (lang, source, shingle), and COUNT the
    * co-occurrences per pair — that count IS |A∩B|, so Jaccard follows
    * from the per-doc sizes with no second verification pass.
    *
    * Equivalence to the brute-force all-pairs scan the DuckDB oracle
    * runs is a theorem, not a probability: Jaccard(A,B) ≥ t > 0 implies
    * |A∩B| ≥ 1, so every qualifying pair co-occurs under at least one
    * shingle and is generated; conversely the count join computes the
    * exact |A∩B| (shingles are distinct within each doc), so each
    * candidate's Jaccard — and the ≥ t filter — is exact. Pairs the
    * index never generates have |A∩B| = 0, hence Jaccard 0 (or NULL for
    * two empty docs), both below any positive threshold. MinHash-band
    * prefiltering could NOT give this guarantee at t = 0.1 (a J = 0.1
    * pair collides in ≥1 of 4 bands w.p. ≈ 4e-4). DedupEquivalenceSpec
    * asserts the equivalence against an in-Spark brute force on both a
    * fixture dir and an adversarial synthetic corpus.
    *
    * Scale: candidate mass is Σ_shingle |prefix|·|posting| within
    * blocks — the PREFIX-FILTERED refinement (Bayardo et al., WWW 2007;
    * join only the first |A| − ⌈t·|A|⌉ + 1 shingles under the global
    * rarest-first order — still complete for threshold t) plus the
    * size-ratio prune (J ≤ min/max ⟹ prune |A|/|B| outside [t, 1/t]),
    * both implemented in [[ngramJaccardPairs]] with the completeness
    * argument. History: the all-pairs form was O(B²) per block (one
    * "English/web" block at 100 TB made it the suite's scale-killer,
    * round 3); the unfiltered inverted index that replaced it was
    * bounded by posting squares, whose corpus-hot shingles were 64 s
    * of the r12 sf1 bench — the rarest-first prefix retires those too.
    */
  val q48 = {
    val hashSql = RollingHash.duckSql("b", sfx = "2")
    oracled(
      "q48_ngram_jaccard",
      "bigram-shingle Jaccard ≥ 0.1 within (lang, source) blocks",
      s"""WITH t AS (
           SELECT doc_id, lang, source, string_split(trim(text), ' ') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, lang, source,
             list_sort(list_distinct(list_transform(
               list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]),
               b -> $hashSql))) AS sh
           FROM t)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             CASE WHEN len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) > 0
               THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
               ELSE NULL END AS jaccard
           FROM bg x JOIN bg y
             ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id)
         WHERE jaccard >= 0.1
         ORDER BY doc_a, doc_b""") { (s, dir) =>
      ngramJaccardPairs(tokenized(s, dir), 0.1)
    }
  }

  /** Inverted-index bigram-Jaccard join at `threshold` over a tokenized
    * frame (doc_id, lang, source, toks — see [[tokensOf]]) — q48 has the
    * semantics, equivalence proof and scale notes. Factored out so
    * DedupEquivalenceSpec can drive it on synthetic corpora.
    *
    * PREFIX-FILTERED (the refinement q48's scaladoc promised, already
    * shipped for q132): candidates come from joining each doc's PREFIX
    * postings — its first |A| − ⌈t·|A|⌉ + 1 shingles under the global
    * rarest-first (df, h) order — against the FULL postings of the
    * block. Completeness: J(A,B) ≥ t ⟹ |A∩B| ≥ t·(|A|+|B|)/(1+t) ≥
    * t·max(|A|,|B|) ≥ t·|A|, so A's intersection misses at most
    * |A| − ⌈t·|A|⌉ of A's shingles and its prefix under ANY fixed total
    * order contains ≥ 1 shared shingle — probing both directions covers
    * both sides. The rarest-first order is what retires the hot-shingle
    * square: a corpus-hot shingle sorts LAST in every doc, so it sits
    * in full postings but in almost no prefix, and the join mass
    * Σ_h |prefix_h|·|posting_h| collapses exactly on the keys where
    * |posting_h|² was the sf1 bottleneck. The ⌈·⌉ is computed with a
    * −1e-9 guard so float noise can only LENGTHEN a prefix (longer
    * stays complete). Candidates then verify EXACTLY with the
    * codegen'd [[graft.functions.SortedIntersectCount]] on the pair's
    * sorted shingle arrays (the count-join |A∩B| of the unfiltered
    * form is no longer available once prefixes prune the index), after
    * the size-ratio prune (J ≥ t ⟹ t·|B| ≤ |A| ≤ |B|/t, ε-guarded
    * conservative — prune is speed-only, never semantics).
    */
  /** (doc_id, lang, source, sh, n_sh): each doc's SORTED DISTINCT
    * hashed bigram shingles — the q48 shingle construction, factored
    * so the streaming similarity join scores arrivals with bit-equal
    * arithmetic ([[graft.streaming.SimilarityJoinStream]]). `sh` is
    * ascending by hash, which doubles as the FIXED total order the
    * stream's prefix probe uses.
    */
  private[graft] def bigramShingleVecs(tokdf: DataFrame): DataFrame = {
    val toks = col("toks")
    val bigrams =
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit("_"), b))
    val hashed = array_sort(array_distinct(transform(bigrams,
      b => RollingHash.rollingHash(b))))
    tokdf
      .select(col("doc_id"), col("lang"), col("source"), hashed.as("sh"))
      .withColumn("n_sh", size(col("sh")))
  }

  private[graft] def ngramJaccardPairs(tokdf: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    val bg = bigramShingleVecs(tokdf)
      .localCheckpoint() // shared by postings, prefixes, and the verify
    val posting = bg.select(col("doc_id"), col("lang"), col("source"),
      col("n_sh"), explode(col("sh")).as("h"))
    // global rarest-first order: per-shingle document frequency
    val sdf = posting.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = posting.join(sdf, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rk") <=
        col("n_sh") - ceil(col("n_sh") * threshold - 1e-9) + 1)
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
    val cand = prefix.alias("x")
      .join(posting.select(col("doc_id"), col("lang"), col("source"),
          col("h")).alias("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    cand
      .join(bg.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(bg.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .filter(col("n_a") + 1e-6 >= col("n_b") * threshold
        && col("n_b") + 1e-6 >= col("n_a") * threshold)
      .withColumn("inter",
        sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        when(col("n_a") + col("n_b") - col("inter") > 0,
          col("inter") / (col("n_a") + col("n_b") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q132 — containment near-dup: score = |A∩B| / min(|A|, |B|) ≥ 0.8
    * over 5-GRAM shingles, the ASYMMETRIC similarity that catches a
    * short document quoted verbatim inside a much longer one — exactly
    * the case Jaccard misses (a 40-shingle doc inside a 400-shingle doc
    * has containment 1.0 but Jaccard ≤ 0.1). Same inverted-index
    * completeness theorem as q48 (containment ≥ t > 0 ⟹ ≥ 1 shared
    * shingle ⟹ the pair is generated). 5-gram width matters doubly
    * here: it is the verbatim-quote unit, AND it keeps the shingle
    * space distinctive — this corpus has only ~900 distinct BIGRAMS
    * across 5 000 docs (tiny vocabulary), which degenerates any
    * similarity join (5.6 M candidates); 5-grams give ~238 k distinct
    * shingles with posting lists of ~1.05 docs.
    * Deliberately UNBLOCKED — boilerplate/quoting crosses sources — so
    * candidate generation uses PREFIX FILTERING under the global
    * rarest-first shingle order (Chaudhuri et al. ICDE 2006 / Bayardo
    * et al. WWW 2007): containment ≥ t means the smaller doc misses at
    * most (1−t)·|A| of its shingles, so its first ⌊(1−t)·|A|⌋+1
    * shingles under ANY fixed total order must hit the other doc —
    * probing with prefixes only, against the full postings, stays
    * COMPLETE while the frequency order keeps corpus-hot shingles out
    * of every prefix (the unfiltered postings self-join was 15 s at
    * sf0.1 — hot shingles square). Candidates then verify exactly with
    * the codegen'd [[graft.functions.SortedIntersectCount]] on the
    * pair's sorted shingle arrays.
    */
  val q132 = {
    val hashSql = RollingHash.duckSql("b", sfx = "2")
    oracled(
      "q132_containment_near_dup",
      "asymmetric containment |A∩B|/min(|A|,|B|) >= 0.8 (quote/boilerplate detector)",
      s"""WITH t AS (
           SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
         bg AS (
           SELECT doc_id,
             list_sort(list_distinct(list_transform(
               list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], '_')),
               b -> $hashSql))) AS sh
           FROM t)
         SELECT doc_a, doc_b, containment FROM (
           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             CASE WHEN LEAST(len(x.sh), len(y.sh)) > 0
               THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / LEAST(len(x.sh), len(y.sh))
               ELSE NULL END AS containment
           FROM bg x JOIN bg y ON x.doc_id < y.doc_id)
         WHERE containment >= 0.8
         ORDER BY doc_a, doc_b""") { (s, dir) =>
      containmentPairs(tokenized(s, dir), 0.8)
    }
  }

  /** The q132 pipeline (prefix-filtered 5-gram containment join) over an
    * arbitrary tokenized frame — q132 has the semantics, completeness
    * argument, and scale notes; factored out so DedupEquivalenceSpec can
    * drive it against a brute force on synthetic corpora.
    */
  private[graft] def containmentPairs(tokdf: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    val toksC = col("toks")
    val grams5 = when(size(toksC) >= 5,
      transform(sequence(lit(1), size(toksC) - 4),
        i => array_join(slice(toksC, i, lit(5)), "_")))
      .otherwise(array().cast("array<string>"))
    val hashed = array_sort(array_distinct(transform(grams5,
      b => RollingHash.rollingHash(b))))
    val bg = tokdf
      .select(col("doc_id"), hashed.as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .localCheckpoint() // shared by postings, prefixes, and the verify
    val posting = bg.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("h"))
    // global rarest-first order: per-shingle document frequency
    val sdf = posting.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = posting.join(sdf, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rk") <= floor(col("n_sh") * (1 - threshold)) + 1)
      .select(col("doc_id"), col("h"))
    // complete candidate set: every pair with containment >= t has a
    // prefix shingle of its SMALLER doc in the other's full postings;
    // probing both directions covers not knowing which side is smaller
    val cand = prefix.alias("x")
      .join(posting.select(col("doc_id"), col("h")).alias("y"),
        col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    // exact verification on the pair's sorted shingle arrays
    cand
      .join(bg.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n_sh").as("n_a")), "doc_a")
      .join(bg.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
          / least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --------------------------------------- PassJoin edit-distance join

  /** Segment-pigeonhole edit-distance similarity join (the PassJoin
    * family, Li/Deng/Feng ICDE 2011) at threshold `k` over a keyed
    * frame (doc_id, lang, source, pfx): candidate generation is a
    * BOUNDED equi-join, then every candidate verifies with the banded
    * `levenshtein(_, _, k)` DP — no all-pairs product anywhere, which
    * is what retires q70's blocked quadratic (block sizes in that plan
    * were corpus-proportional, so the pair join grew as corpus² even
    * "inside blocks").
    *
    * COMPLETENESS is the pigeonhole theorem (the q47 SimHash-chunk
    * proof pattern, extended to indels):
    *
    *   1. Index role: each string s of length L is split into k+1
    *      contiguous segments under the even scheme start_i =
    *      ⌊i·L/(k+1)⌋. An optimal alignment with ed(r, s) ≤ k has ≤ k
    *      edit ops; each op touches at most ONE segment of s (a
    *      substitution/deletion consumes one char of exactly one
    *      segment; an insertion strictly inside one segment's span
    *      touches that segment, at a boundary touches none). k+1
    *      segments, ≤ k touched ⟹ some segment i is UNTOUCHED and its
    *      characters appear contiguous and unchanged in r.
    *   2. Probe role: that copy starts at start_i + shift. The optimal
    *      alignment DECOMPOSES around the untouched segment into a
    *      prefix alignment (length-difference lower bound: cost ≥
    *      |shift|) and a suffix alignment (cost ≥ |Δ − shift| with
    *      Δ = |r| − |s|), so |shift| + |Δ − shift| ≤ k — i.e. shift ∈
    *      [min(0,Δ) − ⌊(k−|Δ|)/2⌋, max(0,Δ) + ⌊(k−|Δ|)/2⌋], a window
    *      of at most k+1 positions (≈half the naive ±k). Probing those
    *      substrings of r, for every indexed length l ∈ [|r|−k, |r|+k]
    *      present in the block and every segment id i, is COMPLETE.
    *      Zero-length segments (L < k+1) are trivially untouched and
    *      match the empty substring, so short keys stay covered.
    *
    * Both roles run over the same corpus (self-join), so every
    * qualifying pair is generated in at least one orientation;
    * candidates canonicalize (least, greatest) + distinct and verify
    * EXACTLY, so no false positive survives — the DuckDB brute-force
    * oracle hash-matches by construction, not probabilistically.
    *
    * Scale shape: the probe side is a chain of EXPLODES (codegen'd
    * Generate nodes — the first draft built nested arrays with
    * transform/flatten HOFs, which are CodegenFallback and ate 22 s of
    * interpreted eval at the 10× bench) with bounded fan-out — ≤ 2k+1
    * lengths × (k+1) segments × ≤ k+1 offsets per doc — deduped on
    * (doc, l, i, sub) before the join. The lens dimension is ≤
    * |pfx-domain| rows per (lang, source) (broadcast). Candidate mass
    * is Σ_key |idx posting|·|probe posting| over (lang, source, l, i,
    * segment) keys — co-occurrence mass, not block², the same contract
    * as q48's inverted index. Verification is O(len·k) banded DP per
    * surviving candidate.
    */
  private def passJoinSegStart(i: Column, l: Column, k: Int): Column =
    floor(i * l / (k + 1)).cast("int")

  /** PassJoin INDEX role over a (doc_id, lang, source, pfx, len) frame:
    * the k+1 segments of each key under its own length scheme as
    * (doc_id, lang, source, l, i, sub) rows. Shared by the batch
    * self-join ([[passJoinEditPairs]]) and the streaming twin's
    * persisted segment store ([[graft.streaming.PassJoinStream]]) —
    * the store MUST be built by this exact construction or the
    * pigeonhole completeness proof does not transfer.
    */
  private[graft] def passJoinIndex(p: DataFrame, k: Int): DataFrame =
    p.select(col("doc_id"), col("lang"), col("source"),
      col("len").as("l"),
      posexplode(transform(sequence(lit(0), lit(k)), i => {
        val st = passJoinSegStart(i, col("len"), k)
        col("pfx").substr(st + 1, passJoinSegStart(i + 1, col("len"), k) - st)
      })).as(Seq("i", "sub")))

  /** PassJoin PROBE role: for every indexed length PRESENT in the
    * block (`lens`: lang, source, ls ARRAY<INT>) within ±k of mine,
    * the substrings some segment could have landed on — a bounded
    * explode chain (≤ 2k+1 lengths × k+1 segments × ≤ k+1 offsets),
    * deduped on the join key. One-directional completeness (the
    * streaming twin's contract): for ANY pair (a, b) with edit
    * distance ≤ k, at least one of b's k+1 index segments appears
    * EXACTLY in a inside the alignment window |shift| + |Δ − shift| ≤
    * k — so probing a against an index CONTAINING b suffices; the
    * batch self-join gets both orientations for free.
    */
  private[graft] def passJoinProbe(p: DataFrame, lens: DataFrame,
      k: Int): DataFrame = {
    val st = passJoinSegStart(col("i"), col("l"), k)
    val m = passJoinSegStart(col("i") + 1, col("l"), k) - st
    val delta = col("len") - col("l")
    val slack = floor((lit(k) - abs(delta)) / 2).cast("int")
    val lo = greatest(lit(0), st + least(delta, lit(0)) - slack)
    val hi = least(col("len") - m, st + greatest(delta, lit(0)) + slack)
    p.join(broadcast(lens), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("len"),
        col("pfx"), explode(col("ls")).as("l"))
      .where(abs(col("l") - col("len")) <= k)
      .select(col("doc_id"), col("lang"), col("source"), col("len"),
        col("pfx"), col("l"), explode(sequence(lit(0), lit(k))).as("i"))
      .select(col("doc_id"), col("lang"), col("source"), col("l"), col("i"),
        col("pfx"), m.as("m"), lo.as("lo"), hi.as("hi"))
      .where(col("hi") >= col("lo"))
      .select(col("doc_id"), col("lang"), col("source"), col("l"), col("i"),
        col("pfx"), col("m"),
        explode(sequence(col("lo"), col("hi"))).as("pos"))
      .select(col("doc_id"), col("lang"), col("source"), col("l"), col("i"),
        col("pfx").substr(col("pos") + 1, col("m")).as("sub"))
      .dropDuplicates("doc_id", "lang", "source", "l", "i", "sub")
  }

  private[graft] def passJoinEditPairs(p0: DataFrame, k: Int): DataFrame = {
    val p = p0.withColumn("len", length(col("pfx")))
      .localCheckpoint() // scanned by index, probe, and both verify joins
    // index role: the k+1 segments of each key under its own scheme
    // (HOF is fine here: one array per doc, not per probe row)
    val idx = passJoinIndex(p, k)
    // probe role: see passJoinProbe
    val lens = p.groupBy(col("lang"), col("source"))
      .agg(collect_set(col("len")).as("ls"))
    val probe = passJoinProbe(p, lens, k)
    val cand = probe.alias("x").join(idx.alias("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.l") === col("y.l") && col("x.i") === col("y.i")
          && col("x.sub") === col("y.sub")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    // exact verify: banded DP (O(len·k) cells, -1 past the bound) —
    // identical kept rows/values to the unbounded form the oracle runs
    cand
      .join(p.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), "doc_a")
      .join(p.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pfx_a"), col("pfx_b"), k).cast("long").as("dist"))
      .filter(col("dist").between(0, k))
  }

  /** q157 window span: each record pairs with the next (Span - 1)
    * records in blocking-key order.
    */
  private val SnmSpan = 4

  /** q157 edit-distance match threshold on the candidate pairs. */
  private val SnmMaxLev = 40

  /** q157 — sorted-neighborhood near-dup (Hernández/Stolfo): sort the
    * corpus by a fuzzy blocking key (lang, text prefix), slide a window
    * of [[SnmSpan]] records, and verify each in-window pair by exact
    * Levenshtein — the classic entity-resolution candidate generator,
    * complementary to the hash families here (MinHash/SimHash catch
    * token-set overlap; SNM catches records that COLLATE together, e.g.
    * shared prefixes, even when their tails differ). Scale shape: the
    * global sort position comes from [[graft.plans.Ordinal]] (parallel
    * range sort + per-partition stitch — NO single-partition window),
    * and "within w of me" becomes an EQUI-join: each record emits its
    * rank shifted by k = 1..w-1 (scan-side explode, bounded fan-out w-1)
    * and joins on rank equality — a shuffle hash join on a dense unique
    * key, perfectly balanced at any scale. The oracle runs the textbook
    * single-window formulation (row_number + inequality self-join).
    * Levenshtein is an exact integer algorithm on both engines.
    */
  val q157 = oracled(
    "q157_sorted_neighborhood",
    "sorted-neighborhood dedup: distributed-ordinal window == row_number+band-join oracle",
    s"""WITH s AS (SELECT doc_id, text,
           row_number() OVER (ORDER BY lang, substr(text, 1, 12), doc_id) AS rn
         FROM documents),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS lev
         FROM s a JOIN s b ON b.rn - a.rn BETWEEN 1 AND ${SnmSpan - 1})
       SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev
       FROM p WHERE lev <= $SnmMaxLev ORDER BY doc_a, doc_b""") { (s, dir) =>
    val ranked = graft.plans.Ordinal.withGlobalOrdinal(
      Tables.documents(s, dir).select(col("doc_id"), col("text"),
        col("lang"), substring(col("text"), 1, 12).as("pfx")),
      "rn", col("lang"), col("pfx"), col("doc_id"))
      .select(col("doc_id"), col("text"), col("rn"))
      .localCheckpoint() // both sides of the neighborhood join scan it
    // "b is 1..w-1 ahead of a" as an equi-join: a emits rn+k probes
    val probes = ranked
      .select(col("doc_id").as("doc_a"), col("text").as("text_a"),
        explode(sequence(col("rn") + 1, col("rn") + (SnmSpan - 1))).as("rn_b"))
    probes
      .join(ranked.select(col("doc_id").as("doc_b"),
        col("text").as("text_b"), col("rn").as("rn_b")), "rn_b")
      // |len(a)-len(b)| is a lower bound on the edit distance: prune
      // before any DP runs (free — lengths are already in the row)
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= SnmMaxLev)
      // banded DP: O(len x threshold) cells instead of O(len x len);
      // -1 (= "above threshold") rows carry no information and drop.
      // Identical kept rows/values to the unbounded form the oracle runs
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), SnmMaxLev).cast("long").as("lev"))
      .filter(col("lev") >= 0 && col("lev") <= SnmMaxLev)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Survivorship argmax key base: n_chars * base - doc_id is unique per
    * row (doc_ids are unique) and orders by (n_chars DESC, doc_id ASC) —
    * one partial-aggregable max_by, no window, no sort. BIGINT-safe for
    * n_chars below ~9.2e8 and doc_id below the base.
    */
  private val SurvKeyBase = 10000000000L

  /** q189 — golden-record SURVIVORSHIP over the q73 dedup clusters: the
    * step after clustering that entity resolution actually ships — pick
    * ONE canonical record per cluster by an explicit, deterministic
    * survivorship rule (here: most content = max n_chars, ties to the
    * smallest doc_id) and account for what merging retires. Emits, per
    * cluster: the canonical doc, its char mass, member/language/source
    * cardinalities, and the chars retired by keeping only the survivor
    * (total - canonical) — the "bytes saved" number a dedup report
    * leads with.
    *
    * Shape: the memoized converged CC labels (shared with q73/q83) join
    * the documents table on the cluster-propagation key, then ONE
    * partial-aggregated groupBy(cluster) — max_by rides the same
    * integer key encoding as q173's LPA argmax ([[SurvKeyBase]]), so
    * the canonical pick is exact and needs no per-cluster window or
    * secondary sort. The q83 summary collapses this table to four
    * numbers; this is the per-cluster ledger those numbers roll up
    * from.
    */
  val q189 = oracled(
    "q189_survivorship",
    "per-cluster golden record: max-content canonical pick + retired-chars ledger",
    s"""WITH RECURSIVE $ccOracleCte
       SELECT cluster,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         arg_max(d.doc_id, d.n_chars * $SurvKeyBase - d.doc_id) AS canonical_doc_id,
         CAST(MAX(d.n_chars) AS BIGINT) AS canonical_chars,
         CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
         CAST(SUM(d.n_chars) - MAX(d.n_chars) AS BIGINT) AS retired_chars
       FROM cc JOIN documents d ON d.doc_id = cc.doc_id
       GROUP BY cluster
       ORDER BY cluster""") { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    ccLabels(s, dir).join(docs, "doc_id")
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("doc_id"),
          col("n_chars") * lit(SurvKeyBase) - col("doc_id")).as("canonical_doc_id"),
        max(col("n_chars")).as("canonical_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        (sum(col("n_chars")) - max(col("n_chars"))).as("retired_chars"))
      .orderBy(col("cluster"))
  }

  /** Prefix-filtered exact set-similarity join (Chaudhuri/Ganti/Kaushik
    * 2006, Bayardo et al. 2007 — the PPJoin candidate rule): for
    * Jaccard ≥ tn/td, sort every doc's shingle set by a GLOBAL order
    * (document frequency asc, hash tiebreak — rarest first) and index
    * ONLY the first `n − ⌈(tn/td)·n⌉ + 1` shingles; any qualifying pair
    * must share a PREFIX shingle (if not, the overlap is confined to
    * the two suffixes, which are too short: |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ >
    * both suffix lengths). Candidates are then verified EXACTLY on the
    * full sets. vs q48's index-every-shingle join: the posting table
    * shrinks by ~t and — because prefixes hold the RAREST shingles —
    * the candidate pair table collapses (hot shingles never generate
    * pairs from their suffix occurrences), which is the 100 TB lever:
    * candidate volume, not verification, dominates all-pairs similarity
    * at scale. Completeness is GATED, not assumed: q204's oracle is the
    * brute-force blocked all-pairs join, and DedupEquivalenceSpec
    * proves prefix == full-index == brute force on adversarial corpora.
    * The ceil and the final threshold compare are integer-exact
    * (`inter·td ≥ tn·union` — no double in any pruning decision).
    */
  private[graft] def prefixFilteredPairs(
      tokdf: DataFrame, tn: Long, td: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = col("toks")
    val bigrams =
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit("_"), b))
    val hashed = array_distinct(transform(bigrams, b => RollingHash.rollingHash(b)))
    val bg = tokdf
      .select(col("doc_id"), col("lang"), col("source"), hashed.as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
      .localCheckpoint()
    val posting = bg.select(col("doc_id"), col("lang"), col("source"),
      col("n_sh"), explode(col("sh")).as("h"))
    // global order = (document frequency asc, hash): rarest shingles
    // land in prefixes, so hot shingles stop generating candidates
    val dfq = posting.groupBy(col("h")).agg(count(lit(1)).as("dfq"))
    val ranked = posting.join(dfq, "h")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfq"), col("h"))))
    // prefix length n − ⌈(tn/td)·n⌉ + 1; integer ceil
    val prefix = ranked
      .filter(col("pos") <=
        col("n_sh") - expr(s"($tn * n_sh + $td - 1) div $td") + 1)
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
    val x = prefix.alias("x")
    val y = prefix.alias("y")
    val cand = x.join(y,
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exact verification on the FULL sets (bounded per-doc arrays)
    cand
      .join(bg.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(bg.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        (col("n_a") + col("n_b")).cast("long").as("szs"))
      .filter(col("inter") * td >= lit(tn) * (col("szs") - col("inter")))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("szs") - col("inter")))
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q204 — the prefix-filtered join at Jaccard ≥ 3/5 over the fixture
    * corpus, gated by the same brute-force blocked all-pairs oracle
    * shape as q48 (which finds the planted near-dup pair): the
    * completeness of [[prefixFilteredPairs]]' pruning crosses the
    * driver's hash gate.
    */
  val q204 = {
    val hashSql = RollingHash.duckSql("b", sfx = "2")
    oracled(
      "q204_prefix_filter_simjoin",
      "PPJoin-style prefix-filtered exact Jaccard ≥ 0.6 join == brute force",
      s"""WITH t AS (
           SELECT doc_id, lang, source, string_split(trim(text), ' ') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, lang, source,
             list_sort(list_distinct(list_transform(
               list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]),
               b -> $hashSql))) AS sh
           FROM t)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             CASE WHEN len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) > 0
               THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
               ELSE NULL END AS jaccard
           FROM bg x JOIN bg y
             ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id)
         WHERE jaccard >= 0.6
         ORDER BY doc_a, doc_b""") { (s, dir) =>
      prefixFilteredPairs(tokenized(s, dir), 3L, 5L)
    }
  }

  /** q230 — leakage-safe train/val/test split: assign documents to
    * splits by their NEAR-DUP CLUSTER, not their own id — the split
    * discipline that keeps a training corpus from leaking its own test
    * set through near-duplicates (the q99 decontamination problem,
    * prevented at split time instead of patched later). Split =
    * cluster-label mod 10 (8/1/1), so every member of a near-dup
    * cluster lands together BY CONSTRUCTION: the query reports zero
    * contaminated clusters for the cluster scheme next to the naive
    * doc-id scheme's real contamination count on the same corpus — the
    * measurable difference between the two policies. Reuses the
    * memoized CC labels (q73's artifact): assignment is a scan of the
    * 2-column label table; contamination is one groupBy(cluster) with
    * a distinct-split count.
    */
  val q230 = oracled(
    "q230_leakage_safe_split",
    "cluster-aware 8/1/1 split: zero contaminated near-dup clusters vs the naive split's count",
    s"""WITH RECURSIVE $ccOracleCte,
       asg AS (SELECT doc_id, cluster,
           CASE WHEN cluster % 10 < 8 THEN 'train'
                WHEN cluster % 10 = 8 THEN 'val' ELSE 'test' END AS cs,
           CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS ns
         FROM cc),
       per AS (
         SELECT 'cluster' AS scheme, 'docs_' || cs AS metric,
           CAST(COUNT(*) AS BIGINT) AS value FROM asg GROUP BY 2
         UNION ALL
         SELECT 'naive', 'docs_' || ns, CAST(COUNT(*) AS BIGINT)
           FROM asg GROUP BY 2),
       cont AS (
         SELECT 'cluster' AS scheme, 'contaminated_clusters' AS metric,
           CAST(COUNT(*) AS BIGINT) AS value FROM (
             SELECT cluster FROM asg GROUP BY cluster
             HAVING COUNT(DISTINCT cs) > 1)
         UNION ALL
         SELECT 'naive', 'contaminated_clusters', CAST(COUNT(*) AS BIGINT)
           FROM (SELECT cluster FROM asg GROUP BY cluster
                 HAVING COUNT(DISTINCT ns) > 1))
       SELECT scheme, metric, value FROM per
       UNION ALL SELECT scheme, metric, value FROM cont
       ORDER BY scheme, metric""") { (s, dir) =>
    def splitOf(c: Column): Column =
      when(pmod(c, lit(10L)) < 8, "train")
        .when(pmod(c, lit(10L)) === 8, "val").otherwise("test")
    val asg = ccLabels(s, dir)
      .select(col("doc_id"), col("cluster"),
        splitOf(col("cluster")).as("cs"), splitOf(col("doc_id")).as("ns"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def per(c: String, scheme: String) = asg.groupBy(col(c))
      .agg(count(lit(1)).as("value"))
      .select(lit(scheme).as("scheme"),
        concat(lit("docs_"), col(c)).as("metric"), col("value"))
    def cont(c: String, scheme: String) = asg.groupBy(col("cluster"))
      .agg(countDistinct(col(c)).as("nsp"))
      .filter(col("nsp") > 1)
      .agg(count(lit(1)).as("value"))
      .select(lit(scheme).as("scheme"),
        lit("contaminated_clusters").as("metric"), col("value"))
    per("cs", "cluster").unionByName(per("ns", "naive"))
      .unionByName(cont("cs", "cluster")).unionByName(cont("ns", "naive"))
      .orderBy(col("scheme"), col("metric"))
  }

  /** q247 — edit-distance near-dup via the SYMSPELL deletion
    * neighborhood: pairs of documents whose 10-char normalized prefixes
    * are within Levenshtein distance 1 — the typo/OCR-noise duplicate
    * class that token-set similarity (Jaccard/containment/PPJoin) and
    * bit-fingerprints (SimHash/MinHash) both miss, completing the
    * dedup family's similarity-measure inventory. Candidate
    * generation is the symmetric-delete trick: every key expands to
    * its 11 one-deletion variants (i = 10 keeps the identity, so
    * exact matches ride the same join); equal-length strings within
    * one SUBSTITUTION share the variant at the edited index, so the
    * variant equi-join is COMPLETE for dist ≤ 1 over fixed-length
    * keys — a bounded 11× explode + equi-join (the q45 banding shape:
    * work ∝ Σ bucket², never all-pairs), then every candidate is
    * VERIFIED with the engine `levenshtein` (classic DP, integer
    * result, bit-identical across engines). The oracle brute-forces
    * all pairs with the same verifier — affordable at fixture scale,
    * which is the point (the q194/q204 asymmetry): candidate
    * generation strategies are independent, so an incomplete
    * neighborhood on the Spark side breaks the hash gate.
    */
  val q247 = oracled(
    "q247_symspell_editdist",
    "Levenshtein<=1 prefix near-dup pairs via symmetric-delete candidates + exact verify",
    """WITH k AS (SELECT doc_id, substr(lower(trim(text)), 1, 10) AS s
         FROM documents
         WHERE length(substr(lower(trim(text)), 1, 10)) = 10)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
       FROM k a JOIN k b ON a.doc_id < b.doc_id
         AND levenshtein(a.s, b.s) <= 1
       ORDER BY doc_a, doc_b""") { (s, dir) =>
    // TWO-LEVEL (the q45 banding trick): a duplicate-dense corpus has
    // far fewer DISTINCT 10-char keys than documents, and identical
    // keys share every deletion variant — so the variant equi-join ran
    // over doc-level buckets whose squares were 44 s at the 10× bench.
    // Level 1 dedupes to distinct strings (variant join + banded
    // verify over string-groups only — Σ bucket² in DISTINCT keys);
    // level 2 expands string pairs back to doc pairs through group
    // membership: within a group every pair is dist 0 (identical
    // keys), across verified groups the distance is the group-level
    // value (distance is a function of the strings). Each doc pair is
    // emitted exactly once (groups are disjoint), so no pair distinct
    // ever touches doc-level cardinality.
    val k = Tables.documents(s, dir)
      .select(col("doc_id"), substring(lower(trim(col("text"))), 1, 10).as("s"))
      .filter(length(col("s")) === 10)
      .localCheckpoint() // feeds groups and both membership expansions
    val groups = k.groupBy(col("s")).agg(min(col("doc_id")).as("gid"))
      .localCheckpoint()
    val variants = groups
      .select(col("gid"), col("s"), explode(expr("sequence(0, 10)")).as("i"))
      .select(col("gid"), col("s"),
        concat(expr("substring(s, 1, i)"), expr("substring(s, i + 2)")).as("v"))
    val sPairs = variants.alias("a")
      .join(variants.alias("b"),
        col("a.v") === col("b.v") && col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("g1"), col("a.s").as("sa"),
        col("b.gid").as("g2"), col("b.s").as("sb"))
      .distinct() // over distinct-string pairs — bounded by keys², not docs²
      .withColumn("dist", levenshtein(col("sa"), col("sb"), 1).cast("long"))
      .filter(col("dist").between(0, 1))
      .select(col("g1"), col("g2"), col("dist"))
    val mem = k.join(groups, "s").select(col("gid"), col("doc_id"))
    val within = mem.alias("m1").join(mem.alias("m2"),
        col("m1.gid") === col("m2.gid") && col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"),
        lit(0L).as("dist"))
    val cross = sPairs
      .join(mem.alias("ma"), col("g1") === col("ma.gid"))
      .join(mem.alias("mb"), col("g2") === col("mb.gid"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"), col("dist"))
    within.unionByName(cross)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q255 — PAIR-FREE near-dup clustering by STAR CONTRACTION: the
    * scale upgrade of the pair-listing LSH family, and the answer to
    * the sf1 probe's one honest quadratic (q45's candidate pairs grow
    * ~bucket², 0.35 s → 138 s at 10× under densification — correct for
    * PAIR-LISTING semantics, but CLUSTERING never needed the pairs).
    * Connectivity is preserved by two LINEAR edge sets: within each
    * full-signature group, doc → group-min (the star); across groups,
    * per (band, signature) bucket with ≥ 2 members, group → bucket-min
    * (a star per hyperedge). Docs sharing a bucket are connected
    * through its hub, so the connected components — and hence the
    * min-id cluster labels — EQUAL the components of q45's full pair
    * graph, at O(docs + distinct-sigs × bands) edges instead of
    * Σ bucket². [[graft.operators.Graph.cc]] runs the propagation; the
    * oracle computes the closure at the SIGNATURE-GROUP level (the
    * doc-level pair closure is Σ cluster-size² states — first tried,
    * it ran for CPU-hours at sf0.1 on this duplicate-dense corpus) and
    * expands group labels to docs: same-signature docs agree on every
    * band (trivially one component), two groups connect iff they share
    * a band value — the identical group↔pair equivalence q45's own
    * brute-force gate already proves for this fixture, so the
    * group-closure oracle is exact, over dozens of nodes instead of
    * millions of reach states.
    */
  /** q255's signature-GROUP-level closure oracle, shared verbatim by
    * q256 (the incremental replay must equal the same from-scratch
    * answer).
    */
  private def pairFreeClosureSql: String = pairFreeClosureSql("")

  private def pairFreeClosureSql(where: String): String =
    s"""WITH RECURSIVE ${minhashPairCtes(where)},
       grp AS (SELECT doc_id, sig0, sig1, sig2, sig3,
           MIN(doc_id) OVER (PARTITION BY sig0, sig1, sig2, sig3) AS gid
         FROM sig),
       reps AS (SELECT DISTINCT gid, sig0, sig1, sig2, sig3 FROM grp),
       ge AS (
          SELECT x.gid AS a, y.gid AS b FROM reps x JOIN reps y
            ON x.sig0 = y.sig0 AND x.gid < y.gid
          UNION SELECT x.gid, y.gid FROM reps x JOIN reps y
            ON x.sig1 = y.sig1 AND x.gid < y.gid
          UNION SELECT x.gid, y.gid FROM reps x JOIN reps y
            ON x.sig2 = y.sig2 AND x.gid < y.gid
          UNION SELECT x.gid, y.gid FROM reps x JOIN reps y
            ON x.sig3 = y.sig3 AND x.gid < y.gid),
       gd AS (SELECT a AS src, b AS dst FROM ge
              UNION ALL SELECT b, a FROM ge),
       reach(s, n) AS (
         SELECT gid, gid FROM reps
         UNION
         SELECT r.s, gd.dst FROM reach r JOIN gd ON gd.src = r.n),
       gcomp AS (SELECT n AS gid, MIN(s) AS cluster
         FROM reach GROUP BY n)
       SELECT grp.doc_id, CAST(gcomp.cluster AS BIGINT) AS cluster,
         CAST(COUNT(*) OVER (PARTITION BY gcomp.cluster) AS BIGINT)
           AS cluster_size
       FROM grp JOIN gcomp ON gcomp.gid = grp.gid
       ORDER BY grp.doc_id"""

  val q255 = oracled(
    "q255_pairfree_lsh_clustering",
    "near-dup clusters via star contraction per LSH bucket — linear edges, == signature-graph closure",
    pairFreeClosureSql) { (s, dir) =>
    starLabels(labeledSignatures(s, dir),
        Tables.documents(s, dir).select(col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** q255's star-contraction labels of a (doc_id, mh, gid) signature
    * frame over the given node set — factored out so q259's
    * touched-component rebuild runs the IDENTICAL edge construction on
    * a subset.
    */
  private def starLabels(labeled: DataFrame, nodes: DataFrame): DataFrame = {
    val starWithin = labeled.filter(col("doc_id") =!= col("gid"))
      .select(col("doc_id").as("a"), col("gid").as("b"))
    val reps = bandReps(labeled)
    val bucketMin = reps.groupBy(col("band"), col("sig"))
      .agg(min(col("gid")).as("bmin"), count(lit(1)).as("c"))
      .filter(col("c") > 1)
    val starAcross = reps.join(bucketMin, Seq("band", "sig"))
      .filter(col("gid") =!= col("bmin"))
      .select(col("gid").as("a"), col("bmin").as("b"))
      .distinct()
    Graph.cc(nodes, starWithin.unionByName(starAcross).distinct())
      .select(col("node").as("doc_id"), col("component").as("cluster"))
  }

  /** q256 — INCREMENTAL pair-free clustering (VERDICT r10 #5): the
    * corpus replayed as four deterministic arrival batches (doc_id
    * quartile ranges — the id axis is the fixture's arrival order, as
    * in q149) through [[graft.streaming.ClusterStream.step]], the SAME
    * pure (labels, hubs, batch) → (labels', hubs') fold the streaming
    * sink runs per micro-batch. Each step does delta-sized work: q255
    * star edges for the batch only, endpoints contracted through
    * yesterday's labels (q251's move), one [[Graph.cc]] over the
    * contraction. Min-of-mins composes, so the fold's final labels
    * EQUAL the from-scratch q255 closure on the full corpus — the
    * oracle IS q255's oracle, verbatim ([[pairFreeClosureSql]]), which
    * gates both the incremental algebra and the streaming twin
    * (ClusterStreamSpec drives the same step through a real
    * foreachBatch stream with checkpoint restart). At 100 TB this is
    * the corpus-dedup maintenance shape: labels are a 2-long/doc
    * artifact, each day costs O(delta), and the full pair graph is
    * never materialized.
    */
  val q256 = oracled(
    "q256_incremental_clustering",
    "4-batch incremental replay via ClusterStream.step fold == from-scratch q255 closure",
    pairFreeClosureSql) { (s, dir) =>
    import graft.streaming.ClusterStream
    // r17 (guide §2.3/§6): the replay batches feed the corpus signature
    // ARTIFACT (`minhash_groups` — the same per-doc (doc_id, mh) rows
    // q45/q255 consume; the signature is a pure per-doc function, so
    // the artifact slice is bit-identical to re-minhashing the batch
    // text) instead of tokenizing + rolling-hashing + minhash-agging a
    // quarter of the corpus per step. The staged frame also shrinks
    // from (doc_id, lang, source, text) to (doc_id, mh). The per-batch
    // gid is still recomputed inside the step (the artifact's gid spans
    // the full corpus).
    val sigsAll = labeledSignatures(s, dir).select(col("doc_id"), col("mh"))
    val mx = sigsAll.agg(max(col("doc_id")).as("mxd"))
    val staged = sigsAll.crossJoin(broadcast(mx))
      .withColumn("bk", expr("doc_id * 4 div (mxd + 1)"))
      .localCheckpoint() // four filtered scans below, one materialization
    var st = (ClusterStream.emptyLabels(s), ClusterStream.emptyHubs(s))
    for (k <- 0 to 3) {
      val b = staged.filter(col("bk") === k)
      st = ClusterStream.stepSigs(st._1, st._2,
        b.select(col("doc_id"), col("mh")), b.select(col("doc_id")),
        eagerOutputs = false) // in-memory fold: next step materializes
    }
    st._1
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** q259 — cluster maintenance under DELETIONS, completing q256's
    * incremental story (inserts can only MERGE components — the
    * contraction handles them; deletions can only SPLIT, and only the
    * components that lost a member): tombstone the deleted docs
    * (doc_id ≡ 3 mod 17 — a GDPR erasure batch, q254's scenario
    * reaching the dedup artifact), mark the TOUCHED components (those
    * containing a tombstone), keep every untouched label AS IS — no
    * retained doc of a touched component can share an LSH bucket with
    * an untouched component's doc (bucket-sharing implies same
    * pre-delete component), so the rebuild is exactly the q255 star
    * contraction ([[starLabels]], identical code path) run on ONLY the
    * touched components' retained docs, with signature-group ids
    * recomputed within the subset. Work scales with the touched
    * components, not the corpus — at 100 TB an erasure batch
    * re-clusters a few thousand docs, not billions. The oracle is the
    * from-scratch closure over the retained corpus
    * ([[pairFreeClosureSql]] with the tombstone predicate pushed into
    * the source CTE) — equality proves both the split semantics and
    * the untouched-label reuse.
    */
  val q259 = oracled(
    "q259_cluster_delete_maintenance",
    "near-dup cluster maintenance under deletions: rebuild only touched components == retained-corpus closure",
    pairFreeClosureSql("WHERE doc_id % 17 <> 3")) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val labeled = labeledSignatures(s, dir)
    val labels0 = starLabels(labeled,
      Tables.documents(s, dir).select(col("doc_id"))).localCheckpoint()
    val touched = labels0.filter(col("doc_id") % 17 === 3)
      .select(col("cluster")).distinct().localCheckpoint()
    val untouched = labels0
      .join(broadcast(touched), Seq("cluster"), "left_anti")
      .select(col("doc_id"), col("cluster"))
    // retained docs of touched components, signature groups recomputed
    // WITHIN the subset (the memoized gid spans deleted docs)
    val subset = labels0
      .join(broadcast(touched), Seq("cluster"), "left_semi")
      .filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"))
    val subBase = labeled.drop("gid")
      .join(subset, Seq("doc_id"), "left_semi")
    // same groupBy+join rep labeling as labeledSignatures (round-6 rule:
    // no aggregate window over the low-cardinality signature key)
    val subLabeled = subBase
      .join(subBase.groupBy(col("mh")).agg(min(col("doc_id")).as("gid")),
        Seq("mh"))
    untouched
      .unionByName(starLabels(subLabeled, subset)
        .select(col("doc_id"), col("cluster")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))).cast("long"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------- URL canonicalization

  /** q280 — URL CANONICALIZATION + dedup (the first dedup any web
    * crawl runs: the same page arrives under scheme/host case noise,
    * default ports, tracking params, fragments, and sloppy path
    * spelling — WARC pipelines canonicalize BEFORE content dedup so
    * the expensive near-dup machinery never sees trivially-equal
    * URLs). Six deterministic messiness variants are minted per doc
    * (pure function of doc_id): clean, UPPERCASED host with :80,
    * kept-param + utm tracking param, #fragment, duplicate + dot
    * path segments with a trailing slash, and a tracking-param-only
    * query. The canonicalizer parses ONE anchored regex into
    * (scheme, host, port, path, query, fragment) and rebuilds:
    * lowercase scheme/host (path case is significant and preserved),
    * default port dropped, `/./` resolved, `//` collapsed, trailing
    * slash stripped, `utm_*` params removed, fragment dropped.
    * Ledger: group-size histogram of the canonical-URL dedup plus
    * how many raw URLs were rewritten — variants 0/1/3/4/5 of the
    * same (host, page) MUST collapse to one group while the
    * kept-param variant stays distinct, so the histogram is sharp
    * evidence the rewrite rules fired.
    *
    * Scale shape: canonicalization is SCAN-LOCAL string work (regex
    * parse + rebuild inside whole-stage codegen, zero shuffle); the
    * dedup is one partial-aggregable groupBy(canon) and the histogram
    * a second groupBy on the bounded group-size domain. At 100 TB:
    * one scan, two map-side-combined exchanges — the cheapest dedup
    * in the repo, which is exactly why real pipelines run it first.
    */
  val q280 = oracled(
    "q280_url_canonicalization",
    "URL canonicalization dedup: group-size histogram + rewrite accounting",
    """WITH u AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'http://host' || (doc_id % 50)
               || '.example.com/p/' || (doc_id % 7)
             WHEN 1 THEN 'HTTP://HOST' || (doc_id % 50)
               || '.EXAMPLE.COM:80/p/' || (doc_id % 7)
             WHEN 2 THEN 'http://host' || (doc_id % 50)
               || '.example.com/p/' || (doc_id % 7)
               || '?id=' || (doc_id % 7) || '&utm_campaign=x'
             WHEN 3 THEN 'http://host' || (doc_id % 50)
               || '.example.com/p/' || (doc_id % 7) || '#frag'
             WHEN 4 THEN 'http://host' || (doc_id % 50)
               || '.example.com//p/./' || (doc_id % 7) || '/'
             ELSE 'http://host' || (doc_id % 50)
               || '.example.com/p/' || (doc_id % 7) || '?utm_source=feed'
           END AS url
         FROM documents),
       parsed AS (SELECT doc_id, url,
           lower(regexp_extract(url,
             '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$',
             1)) AS scheme,
           lower(regexp_extract(url,
             '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$',
             2)) AS host,
           regexp_replace(regexp_replace(regexp_replace(
             regexp_extract(url,
               '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$',
               4), '/\./', '/'), '/{2,}', '/'), '(.)/$', '\1') AS path,
           regexp_replace(regexp_extract(url,
             '^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$',
             5), '[?&]utm_[A-Za-z_]*=[A-Za-z0-9]*', '') AS qs
         FROM u),
       c AS (SELECT doc_id, url,
           scheme || '://' || host || path || qs AS canon FROM parsed),
       g AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN url <> canon THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rewritten,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_raw
         FROM c GROUP BY canon)
       SELECT n_raw AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(n_rewritten) AS BIGINT) AS n_rewritten,
         CAST(SUM(n_distinct_raw) AS BIGINT) AS n_distinct_raw
       FROM g GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    val UrlRe =
      "^([A-Za-z]+)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\\?[^#]*)?(#.*)?$"
    val h = (col("doc_id") % 50).cast("string")
    val p = (col("doc_id") % 7).cast("string")
    val u = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 6 === 0, concat(lit("http://host"), h,
          lit(".example.com/p/"), p))
        .when(col("doc_id") % 6 === 1, concat(lit("HTTP://HOST"), h,
          lit(".EXAMPLE.COM:80/p/"), p))
        .when(col("doc_id") % 6 === 2, concat(lit("http://host"), h,
          lit(".example.com/p/"), p, lit("?id="), p,
          lit("&utm_campaign=x")))
        .when(col("doc_id") % 6 === 3, concat(lit("http://host"), h,
          lit(".example.com/p/"), p, lit("#frag")))
        .when(col("doc_id") % 6 === 4, concat(lit("http://host"), h,
          lit(".example.com//p/./"), p, lit("/")))
        .otherwise(concat(lit("http://host"), h,
          lit(".example.com/p/"), p, lit("?utm_source=feed")))
        .as("url"))
    val g = (i: Int) => regexp_extract(col("url"), UrlRe, i)
    val canon = concat(lower(g(1)), lit("://"), lower(g(2)),
      regexp_replace(regexp_replace(regexp_replace(g(4),
        "/\\./", "/"), "/{2,}", "/"), "(.)/$", "$1"),
      regexp_replace(g(5), "[?&]utm_[A-Za-z_]*=[A-Za-z0-9]*", ""))
    u.select(col("url"), canon.as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("url") =!= col("canon"), 1L).otherwise(0L))
          .as("n_rewritten"),
        countDistinct(col("url")).as("n_distinct_raw"))
      .groupBy(col("n_raw").as("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_rewritten")).as("n_rewritten"),
        sum(col("n_distinct_raw")).as("n_distinct_raw"))
      .orderBy(col("group_size"))
  }

  // ------------------------------------------ probabilistic record linkage

  /** q288 — FELLEGI–SUNTER probabilistic record linkage (JASA 1969 —
    * the canonical match/nonmatch log-odds scorer behind Splink,
    * dedupe.io and every census-grade entity resolver; one level past
    * this file's blocking queries: q157 finds CANDIDATES, this scores
    * them). Two files are minted from customer: file A = all records,
    * file B = every third record with field noise (nation bumped when
    * id%13=0, segment rotated when id%11=0, balance tier bumped when
    * id%7=0 — dirty-fixture arithmetic mirrored in the oracle, the
    * q92/q96 trick). Blocking: a STABLE pseudo-identifier (xorshift
    * "phone" of the id, q287's hash class) bucketed into 1000 blocks —
    * blocking recall is exactly 1 by construction, so the truth set is
    * complete inside the candidates. Per field f the m/u probabilities
    * are estimated FROM the candidate pairs themselves (m over true
    * pairs a.id=b.id, u over in-block nonmatches, +1/+2 Laplace), and
    * the agreement/disagreement weights are EXACT-INTEGER log-odds via
    * the shared [[graft.functions.IntLog2]]:
    *   wa_f = L2(m_num·u_den) − L2(u_num·m_den)    (log2 m/u, x2²⁰)
    *   wd_f = L2((m_den−m_num)·u_den) − L2((u_den−u_num)·m_den)
    * — a ratio of rationals as a difference of L2s of cross products,
    * no float anywhere (the q283 discipline). Ledger: top-30 pairs by
    * total score with their agreement vector and truth flag.
    *
    * Scale shape: candidates are ONE bounded equi-join on the block
    * key (E[pairs] = |A|·|B|/blocks + |B| true pairs); the m/u
    * estimation is ONE conditional aggregate over candidates (1-row,
    * broadcast back); scoring is scan-local arithmetic on candidates;
    * the top-30 is a window over score-ranked candidates. At 100 TB
    * the block count scales with corpus size (it is the one knob) and
    * everything else is partial-aggregable.
    */
  val q288 = oracled(
    "q288_record_linkage",
    "Fellegi-Sunter linkage: blocked candidates, data-estimated m/u, IntLog2 log-odds, top-30",
    {
      val l2 = (e: String) => graft.functions.IntLog2.duckSql(e)
      def w(f: String): String =
        s"""${l2(s"((m_$f + 1) * (u_den + 2))")}
            - ${l2(s"((u_$f + 1) * (m_den + 2))")} AS wa_$f,
           ${l2(s"((m_den - m_$f + 1) * (u_den + 2))")}
            - ${l2(s"((u_den - u_$f + 1) * (m_den + 2))")} AS wd_$f"""
      s"""WITH segrot(seg, segn) AS (VALUES
           ('AUTOMOBILE', 'BUILDING'), ('BUILDING', 'FURNITURE'),
           ('FURNITURE', 'HOUSEHOLD'), ('HOUSEHOLD', 'MACHINERY'),
           ('MACHINERY', 'AUTOMOBILE')),
         base AS (SELECT c_custkey AS id, c_nationkey AS nat,
             c_mktsegment AS seg,
             LEAST(GREATEST(CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT),
               -1), 4) AS tier,
             xor(c_custkey * 2654435761 % 4294967296,
               (c_custkey * 2654435761 % 4294967296) // 65536)
               % 1000000 // 1000 AS blk
           FROM customer),
         fa AS (SELECT id, nat, seg, tier, blk FROM base),
         fb AS (SELECT b.id,
             CASE WHEN b.id % 13 = 0 THEN (b.nat + 1) % 25
               ELSE b.nat END AS nat,
             CASE WHEN b.id % 11 = 0 THEN sr.segn ELSE b.seg END AS seg,
             CASE WHEN b.id % 7 = 0 THEN LEAST(b.tier + 1, 4)
               ELSE b.tier END AS tier,
             b.blk
           FROM base b JOIN segrot sr ON sr.seg = b.seg
           WHERE b.id % 3 = 0),
         cand AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS ag_nat,
             CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS ag_seg,
             CASE WHEN a.tier = b.tier THEN 1 ELSE 0 END AS ag_tier,
             CASE WHEN a.id = b.id THEN 1 ELSE 0 END AS is_true
           FROM fa a JOIN fb b ON a.blk = b.blk),
         st AS (SELECT
             CAST(SUM(is_true * ag_nat) AS BIGINT) AS m_nat,
             CAST(SUM(is_true * ag_seg) AS BIGINT) AS m_seg,
             CAST(SUM(is_true * ag_tier) AS BIGINT) AS m_tier,
             CAST(SUM(is_true) AS BIGINT) AS m_den,
             CAST(SUM((1 - is_true) * ag_nat) AS BIGINT) AS u_nat,
             CAST(SUM((1 - is_true) * ag_seg) AS BIGINT) AS u_seg,
             CAST(SUM((1 - is_true) * ag_tier) AS BIGINT) AS u_tier,
             CAST(SUM(1 - is_true) AS BIGINT) AS u_den,
             CAST(COUNT(*) AS BIGINT) AS n_cands
           FROM cand),
         wt AS (SELECT n_cands,
             ${w("nat")}, ${w("seg")}, ${w("tier")}
           FROM st),
         sc AS (SELECT id_a, id_b, ag_nat, ag_seg, ag_tier, is_true,
             CAST(CASE WHEN ag_nat = 1 THEN wa_nat ELSE wd_nat END
               + CASE WHEN ag_seg = 1 THEN wa_seg ELSE wd_seg END
               + CASE WHEN ag_tier = 1 THEN wa_tier ELSE wd_tier END
               AS BIGINT) AS score_x20, n_cands
           FROM cand CROSS JOIN wt),
         rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score_x20 DESC,
             id_a, id_b) AS rank FROM sc)
         SELECT CAST(rank AS BIGINT) AS rank, id_a, id_b,
           CAST(ag_nat AS BIGINT) AS ag_nat,
           CAST(ag_seg AS BIGINT) AS ag_seg,
           CAST(ag_tier AS BIGINT) AS ag_tier,
           CAST(is_true AS BIGINT) AS is_true, score_x20, n_cands
         FROM rk WHERE rank <= 30 ORDER BY rank"""
    }) { (s, dir) =>
    import s.implicits._
    val l2s = (e: String) => expr(graft.functions.IntLog2.sparkSql(e))
    val segrot = Seq(("AUTOMOBILE", "BUILDING"), ("BUILDING", "FURNITURE"),
      ("FURNITURE", "HOUSEHOLD"), ("HOUSEHOLD", "MACHINERY"),
      ("MACHINERY", "AUTOMOBILE")).toDF("seg0", "segn")
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("id"), col("c_nationkey").as("nat"),
      col("c_mktsegment").as("seg"),
      least(greatest(floor(col("c_acctbal") / 2000.0).cast("long"),
        lit(-1L)), lit(4L)).as("tier"),
      expr("""(c_custkey * 2654435761L % 4294967296L
             ^ (c_custkey * 2654435761L % 4294967296L) div 65536)
             % 1000000 div 1000""").as("blk"))
    val fa = base.select(col("id").as("id_a"), col("nat").as("nat_a"),
      col("seg").as("seg_a"), col("tier").as("tier_a"), col("blk"))
    val fb = base.filter(col("id") % 3 === 0)
      .join(broadcast(segrot), col("seg") === col("seg0"))
      .select(col("id").as("id_b"),
        when(col("id") % 13 === 0, (col("nat") + 1) % 25)
          .otherwise(col("nat")).as("nat_b"),
        when(col("id") % 11 === 0, col("segn"))
          .otherwise(col("seg")).as("seg_b"),
        when(col("id") % 7 === 0, least(col("tier") + 1, lit(4L)))
          .otherwise(col("tier")).as("tier_b"),
        col("blk"))
    val cand = fa.join(fb, Seq("blk"))
      .select(col("id_a"), col("id_b"),
        when(col("nat_a") === col("nat_b"), 1L).otherwise(0L).as("ag_nat"),
        when(col("seg_a") === col("seg_b"), 1L).otherwise(0L).as("ag_seg"),
        when(col("tier_a") === col("tier_b"), 1L).otherwise(0L)
          .as("ag_tier"),
        when(col("id_a") === col("id_b"), 1L).otherwise(0L).as("is_true"))
      .localCheckpoint(false)
    val st = cand.agg(
      sum(col("is_true") * col("ag_nat")).as("m_nat"),
      sum(col("is_true") * col("ag_seg")).as("m_seg"),
      sum(col("is_true") * col("ag_tier")).as("m_tier"),
      sum(col("is_true")).as("m_den"),
      sum((lit(1L) - col("is_true")) * col("ag_nat")).as("u_nat"),
      sum((lit(1L) - col("is_true")) * col("ag_seg")).as("u_seg"),
      sum((lit(1L) - col("is_true")) * col("ag_tier")).as("u_tier"),
      sum(lit(1L) - col("is_true")).as("u_den"),
      count(lit(1)).as("n_cands"))
    def wa(f: String) = (l2s(s"((m_$f + 1) * (u_den + 2))")
      - l2s(s"((u_$f + 1) * (m_den + 2))")).as(s"wa_$f")
    def wd(f: String) = (l2s(s"((m_den - m_$f + 1) * (u_den + 2))")
      - l2s(s"((u_den - u_$f + 1) * (m_den + 2))")).as(s"wd_$f")
    val wt = st.select(Seq(col("n_cands")) ++
      Seq("nat", "seg", "tier").flatMap(f => Seq(wa(f), wd(f))): _*)
    val sc = cand.crossJoin(broadcast(wt))
      .select(col("id_a"), col("id_b"), col("ag_nat"), col("ag_seg"),
        col("ag_tier"), col("is_true"), col("n_cands"),
        (when(col("ag_nat") === 1, col("wa_nat")).otherwise(col("wd_nat"))
          + when(col("ag_seg") === 1, col("wa_seg")).otherwise(col("wd_seg"))
          + when(col("ag_tier") === 1, col("wa_tier"))
            .otherwise(col("wd_tier"))).as("score_x20"))
    sc.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x20").desc, col("id_a"), col("id_b")))
          .cast("long"))
      .filter(col("rank") <= 30)
      .select(col("rank"), col("id_a"), col("id_b"), col("ag_nat"),
        col("ag_seg"), col("ag_tier"), col("is_true"), col("score_x20"),
        col("n_cands"))
      .orderBy(col("rank"))
  }

  // --------------------------------------- content-defined chunking

  /** q294 — CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/venti
    * storage-dedup primitive, and the segmentation step of
    * chunk-level corpus dedup): documents are split where the rolling
    * hash of the trailing 4-token window hits `% 16 == 0` — boundaries
    * are a pure function of CONTENT, so an edit resynchronizes within
    * one window and every later chunk stays bit-identical. The fixture
    * corpus is each document PLUS a head-edited revision ('rev marker'
    * prepended — the q92/q96 dirty-fixture trick), chunked under BOTH
    * layouts: CDC and fixed-width-16. The ledger (per layout, per
    * copy-count: distinct chunks, duplicate tokens saved, total
    * tokens) is the operator's own justification — CDC dedups nearly
    * half the doubled corpus because boundaries resync after the head
    * edit, fixed-width dedups almost nothing because the 2-token
    * insertion shifts every boundary (the classic rsync demo, here as
    * a hash-gated contract).
    *
    * Scale shape: boundary detection is scan-local (array slice +
    * the codegen'd [[graft.functions.RollingHash]] over each window);
    * segment ids are a per-document prefix count (doc-partitioned
    * window — bounded by doc length, never corpus); chunk assembly is
    * one groupBy(doc, seg) and the dedup one groupBy(chunk) — all
    * partial-aggregable. The q120 anchor query SAMPLES windows for
    * overlap detection; this one PARTITIONS the corpus — the storage
    * form.
    */
  val q294 = oracled(
    "q294_cdc_chunking",
    "content-defined vs fixed chunking on head-edited revisions: dedup resync ledger",
    s"""WITH corpus AS (
         SELECT doc_id, trim(text) AS text FROM documents
         UNION ALL
         SELECT doc_id + 1000000000, 'rev marker ' || trim(text)
         FROM documents),
       t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       p AS (SELECT doc_id, toks,
           unnest(range(1, len(toks) + 1)) AS pos FROM t),
       tok AS (SELECT doc_id, pos, toks[pos] AS tk,
           CASE WHEN pos >= 4 AND ${graft.functions.RollingHash.duckSql(
             "array_to_string(toks[pos-3:pos], ' ')")} % 16 = 0
             THEN 1 ELSE 0 END AS bnd
         FROM p),
       seg AS (SELECT doc_id, pos, tk,
           COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cseg,
           (pos - 1) // 16 AS fseg
         FROM tok),
       ch AS (
         SELECT 'cdc' AS layout, doc_id, cseg AS seg,
             array_to_string(LIST(tk ORDER BY pos), ' ') AS chunk,
             CAST(COUNT(*) AS BIGINT) AS ctoks
           FROM seg GROUP BY 1, 2, 3
         UNION ALL
         SELECT 'fixed', doc_id, fseg,
             array_to_string(LIST(tk ORDER BY pos), ' '),
             CAST(COUNT(*) AS BIGINT)
           FROM seg GROUP BY 1, 2, 3),
       g AS (SELECT layout, chunk, CAST(COUNT(*) AS BIGINT) AS copies,
           CAST(MAX(ctoks) AS BIGINT) AS ctoks
         FROM ch GROUP BY 1, 2)
       SELECT layout, copies,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
         CAST(SUM((copies - 1) * ctoks) AS BIGINT) AS dup_tokens_saved,
         CAST(SUM(copies * ctoks) AS BIGINT) AS total_tokens
       FROM g GROUP BY 1, 2 ORDER BY layout, copies""") { (s, dir) =>
    import graft.functions.RollingHash.rollingHash
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), trim(col("text")).as("text"))
    val corpus = base.union(base.select(
      (col("doc_id") + 1000000000L).as("doc_id"),
      concat(lit("rev marker "), col("text")).as("text")))
    val tok = corpus
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("p0", "tk")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tk"),
        when(col("p0") >= 3,
          when(rollingHash(array_join(
              slice(col("toks"), col("p0") - 2, lit(4)), " "))
              % 16 === 0, 1L).otherwise(0L))
          .otherwise(0L).as("bnd"))
    val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seg = tok
      .withColumn("cseg", coalesce(sum(col("bnd")).over(wSeg), lit(0L)))
      .withColumn("fseg", expr("(pos - 1) div 16"))
      .localCheckpoint(false)
    def chunks(layout: String, segCol: String): DataFrame =
      seg.groupBy(col("doc_id"), col(segCol).as("seg"))
        .agg(count(lit(1)).as("ctoks"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tk")))),
            x => x.getField("tk")), " ").as("chunk"))
        .select(lit(layout).as("layout"), col("chunk"), col("ctoks"))
    val ch = chunks("cdc", "cseg").union(chunks("fixed", "fseg"))
    ch.groupBy(col("layout"), col("chunk"))
      .agg(count(lit(1)).as("copies"), max(col("ctoks")).as("ctoks"))
      .groupBy(col("layout"), col("copies"))
      .agg(count(lit(1)).as("n_distinct_chunks"),
        sum((col("copies") - 1) * col("ctoks")).as("dup_tokens_saved"),
        sum(col("copies") * col("ctoks")).as("total_tokens"))
      .orderBy(col("layout"), col("copies"))
  }

  /** q320 — CROSS-SOURCE COPYING MATRIX: q47's near-dup pairs rolled
    * up by the (source, source) combination of their endpoints — the
    * provenance view a curation team reads before deciding which
    * source to keep when near-duplicates span feeds (the diagonal is
    * within-source duplication; off-diagonal cells are one source
    * republishing another). Pure derived ledger over the memoized
    * SimHash pair table: two doc_id joins against the documents
    * projection, canonicalize the unordered source pair with
    * least/greatest (strings compare identically on both engines),
    * one bounded groupBy (|sources|² cells). The oracle recomputes
    * the pairs brute-force (q47's own gate construction) and rolls up
    * the same way.
    */
  val q320 = oracled(
    "q320_cross_source_copying",
    "near-dup pair counts by canonical (source, source) cell: who copies whom",
    s"""WITH $simhashCte,
       p AS (SELECT x.doc_id AS a, y.doc_id AS b
         FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= $HamT),
       j AS (SELECT
           LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b
         FROM p JOIN documents da ON da.doc_id = p.a
         JOIN documents db ON db.doc_id = p.b)
       SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM j GROUP BY 1, 2 ORDER BY source_a, source_b""") { (s, dir) =>
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    simhashPairs(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q331 — CLUSTER-SAFE train/test split: the near-dup-leakage fix
    * for eval construction. A per-document split (here doc_id % 5 → the
    * 20% test fold) strands near-duplicates ACROSS the boundary — the
    * model "generalizes" to test items it effectively trained on. The
    * cluster-safe policy assigns whole q73 components (cluster % 5), so
    * no near-dup pair can cross by construction. The ledger puts both
    * policies side by side — doc/token counts per fold AND the measured
    * cross-fold near-dup pair count (COMPUTED over the pair table for
    * both, not asserted: the cluster row's 0 is an output the gate
    * hashes, the doc-hash row's nonzero is the leak made visible).
    *
    * Scale shape: labels come from the memoized CC table (cluster once,
    * consume many times); fold assignment is scan-local arithmetic;
    * the ledger is one partial-agg groupBy; the cross check is one
    * keyed join of the memoized pair table against the 2-policy
    * assignment — all linear in docs + pairs.
    */
  val q331 = oracled(
    "q331_cluster_safe_split",
    "cluster-safe vs per-doc eval split: fold sizes + measured cross-fold near-dup pairs (leakage ledger)",
    s"""WITH RECURSIVE $ccOracleCte,
       dtok AS (SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
         FROM documents),
       asg AS (
         SELECT 'cluster' AS policy, c.doc_id,
           CASE WHEN c.cluster % 5 = 0 THEN 1 ELSE 0 END AS is_test
         FROM cc c
         UNION ALL
         SELECT 'doc_hash', c.doc_id,
           CASE WHEN c.doc_id % 5 = 0 THEN 1 ELSE 0 END
         FROM cc c),
       led AS (SELECT policy,
           CAST(SUM(1 - is_test) AS BIGINT) AS n_train_docs,
           CAST(SUM(is_test) AS BIGINT) AS n_test_docs,
           CAST(SUM(CASE WHEN is_test = 0 THEN t.n_tok ELSE 0 END)
             AS BIGINT) AS n_train_tokens,
           CAST(SUM(CASE WHEN is_test = 1 THEN t.n_tok ELSE 0 END)
             AS BIGINT) AS n_test_tokens
         FROM asg JOIN dtok t ON t.doc_id = asg.doc_id
         GROUP BY policy),
       cx AS (SELECT a.policy, CAST(COUNT(*) AS BIGINT) AS n
         FROM pairs p
         JOIN asg a ON a.doc_id = p.doc_a
         JOIN asg b ON b.doc_id = p.doc_b AND b.policy = a.policy
         WHERE a.is_test <> b.is_test
         GROUP BY a.policy)
       SELECT l.policy, l.n_train_docs, l.n_test_docs,
         l.n_train_tokens, l.n_test_tokens,
         COALESCE(cx.n, 0) AS n_cross_pairs
       FROM led l LEFT JOIN cx ON cx.policy = l.policy
       ORDER BY l.policy""") { (s, dir) =>
    val lab = ccLabels(s, dir)
    val tok = Tables.documents(s, dir).select(col("doc_id"),
      size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
    val asg = lab.select(lit("cluster").as("policy"), col("doc_id"),
        when(col("cluster") % 5 === 0, 1L).otherwise(0L).as("is_test"))
      .unionByName(lab.select(lit("doc_hash").as("policy"), col("doc_id"),
        when(col("doc_id") % 5 === 0, 1L).otherwise(0L).as("is_test")))
      .localCheckpoint(false)
    val led = asg.join(tok, Seq("doc_id"))
      .groupBy(col("policy"))
      .agg(sum(lit(1L) - col("is_test")).as("n_train_docs"),
        sum(col("is_test")).as("n_test_docs"),
        sum(when(col("is_test") === 0, col("n_tok")).otherwise(0L))
          .as("n_train_tokens"),
        sum(when(col("is_test") === 1, col("n_tok")).otherwise(0L))
          .as("n_test_tokens"))
    val cx = simhashPairs(s, dir)
      .join(asg.select(col("policy"), col("doc_id").as("doc_a"),
        col("is_test").as("ta")), Seq("doc_a"))
      .join(asg.select(col("policy"), col("doc_id").as("doc_b"),
        col("is_test").as("tb")), Seq("doc_b", "policy"))
      .filter(col("ta") =!= col("tb"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n"))
    led.join(cx, Seq("policy"), "left")
      .select(col("policy"), col("n_train_docs"), col("n_test_docs"),
        col("n_train_tokens"), col("n_test_tokens"),
        coalesce(col("n"), lit(0L)).as("n_cross_pairs"))
      .orderBy(col("policy"))
  }

  /** q333 — WINNOWING fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS sketch): per document, the set of windowed
    * minima over token-4-gram rolling hashes (window w = 5 full-window
    * positions), then every doc pair sharing ≥ 2 fingerprints. Unlike
    * q120's content-defined anchors (hash % 8 — a match can
    * probabilistically select NO anchor), winnowing has the paper's
    * coverage GUARANTEE: any verbatim token overlap of length ≥
    * w + k − 1 = 8 contains a full window, whose minimum is selected
    * IDENTICALLY in both documents — ≥ 1 shared fingerprint with
    * certainty. The listing applies a ≥ 2-shared evidence rule, which
    * is itself certain from overlap length 13: an overlap of L tokens
    * holds L − 7 full windows, one selection covers at most w = 5 of
    * them, so L ≥ 13 forces ≥ ⌈6/5⌉ = 2 distinct selections
    * (CurationAuditSpec plants that boundary).
    *
    * Scale shape: gram hashes and windowed minima are scan-local per
    * doc (the min window partitions on doc_id — the highest-cardinality
    * key); the pair join runs over DISTINCT (doc, fp) with fingerprints
    * of document frequency > 50 DROPPED first (the MOSS
    * "too-common-to-be-evidence" rule, and the bounded-candidate knob:
    * candidate mass is Σ_{df≤50} df² ≤ 50·|postings| — LINEAR, never
    * the q197-class quadratic-intermediate-vs-bounded-output shape).
    * Inside a duplicate cluster the shared fingerprints exceed the df
    * cap and drop out, which is exactly the designed division of
    * labor: clusters belong to q45/q255, winnowing lists the RARE
    * verbatim overlaps (plagiarism/citation pairs) those miss.
    */
  val q333 = oracled(
    "q333_winnowing_fingerprints",
    "winnowing (MOSS) sketch pairs: windowed-min 4-gram fingerprints, df-capped postings, >=2 shared",
    s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
       g AS (SELECT doc_id, len(toks) AS n,
           unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS p, toks
         FROM t),
       h AS (SELECT doc_id, n, p,
           ${RollingHash.duckSql("array_to_string(toks[p:p+3], ' ')")} AS h
         FROM g),
       w AS (SELECT doc_id, p, n,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
         FROM h),
       f AS (SELECT DISTINCT doc_id, fp FROM w WHERE p <= n - 7),
       df AS (SELECT fp FROM f GROUP BY fp
         HAVING COUNT(*) > 1 AND COUNT(*) <= 50),
       fr AS (SELECT f.doc_id, f.fp FROM f JOIN df ON df.fp = f.fp)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM fr a JOIN fr b ON b.fp = a.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2
       HAVING COUNT(*) >= 2
       ORDER BY doc_a, doc_b""") { (s, dir) =>
    val grams = tokenized(s, dir)
      .select(col("doc_id"), size(col("toks")).as("n"),
        explode(sequence(lit(1), greatest(size(col("toks")) - 3, lit(1))))
          .as("p"),
        col("toks"))
      .filter(col("p") <= col("n") - 3)
      .select(col("doc_id"), col("n"), col("p"),
        RollingHash.rollingHash(
          array_join(slice(col("toks"), col("p"), lit(4)), " ")).as("h"))
    val fps = grams
      .withColumn("fp", min(col("h")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("p"))
          .rowsBetween(0, 4)))
      .filter(col("p") <= col("n") - 7)
      .select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint(false)
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > 1 && col("dfc") <= 50)
      .select(col("fp"))
    val fr = fps.join(keep, Seq("fp"))
    fr.select(col("fp"), col("doc_id").as("doc_a"))
      .join(fr.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q338 — THRESHOLD SENSITIVITY sweep for the SimHash near-dup knob:
    * pair count and touched-doc count at every Hamming radius
    * t ∈ {0..3} — the "what does loosening the radius buy, and what
    * does it drag in" ledger a curation team reads before committing
    * to a dedup threshold (t = 0 is exact-fingerprint dup; each
    * increment admits fuzzier pairs). Candidate-COMPLETE for every
    * t ≤ [[HamT]] from the ONE memoized pair table: pairs at distance
    * ≤ t are a subset of the ≤ HamT pairs the pigeonhole join already
    * proves complete, so the sweep is a filter, not a recompute.
    * Sweeping ABOVE HamT would need a finer chunking (HamT+2 chunks) —
    * the declared boundary of this ledger.
    *
    * Scale shape: distances come from two keyed joins of the pair
    * table against the fingerprint memo; the 4-radius fan-out is a
    * broadcast theta-join against a 4-row grid (×4 of the pair table,
    * bounded); everything aggregates with map-side partials.
    */
  val q338 = oracled(
    "q338_threshold_sweep",
    "SimHash radius sweep t=0..3: pairs + touched docs per threshold from the one memoized pair table",
    s"""WITH $simhashCte,
       pd AS (SELECT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.simhash, y.simhash)) AS d
         FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= $HamT),
       ts AS (SELECT unnest(range(0, ${HamT + 1})) AS t),
       np AS (SELECT ts.t, CAST(COUNT(pd.a) AS BIGINT) AS n_pairs
         FROM ts LEFT JOIN pd ON pd.d <= ts.t GROUP BY ts.t),
       dc AS (SELECT t, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
         FROM (SELECT ts.t, pd.a AS doc FROM ts JOIN pd ON pd.d <= ts.t
               UNION ALL
               SELECT ts.t, pd.b FROM ts JOIN pd ON pd.d <= ts.t) u
         GROUP BY t)
       SELECT np.t, np.n_pairs,
         CAST(COALESCE(dc.n_docs, 0) AS BIGINT) AS n_docs_touched
       FROM np LEFT JOIN dc ON dc.t = np.t
       ORDER BY np.t""") { (s, dir) =>
    val fp = simhashes(s, dir)
    val pd = simhashPairs(s, dir)
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("ha")),
        Seq("doc_a"))
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("hb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("d"))
      .localCheckpoint(false)
    val ts = s.range(0, HamT + 1).select(col("id").as("t"))
    val np = broadcast(ts).join(pd, col("d") <= col("t"), "left")
      .groupBy(col("t")).agg(count(col("doc_a")).as("n_pairs"))
    val dc = broadcast(ts).join(pd, col("d") <= col("t"))
      .select(col("t"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("t")).agg(countDistinct(col("doc")).as("n_docs"))
    np.join(dc, Seq("t"), "left")
      .select(col("t"), col("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs_touched"))
      .orderBy(col("t"))
  }

  /** q339 — per-source ORIGINALITY rate: for each source, how many of
    * its documents are their near-dup cluster's REPRESENTATIVE (the
    * min-id member — singletons represent themselves) vs copies of
    * content that exists elsewhere — the cluster-based, per-source
    * complement of q320's pair-based copying matrix, and the number
    * that separates sources producing content from sources mirroring
    * it when a mixture policy (q319/q329) decides who gets budget.
    *
    * Scale shape: a DERIVED ledger over the memoized CC label table
    * (cluster once, consume many times — q73/q83/q331's discipline):
    * one bounded groupBy(cluster) for representatives, two keyed
    * joins, one partial-agg groupBy(source).
    */
  val q339 = oracled(
    "q339_source_originality",
    "per-source cluster-representative rate: originals vs mirrored copies, exact ppm",
    s"""WITH RECURSIVE $ccOracleCte,
       rep AS (SELECT cluster, MIN(doc_id) AS rep FROM cc GROUP BY cluster),
       d AS (SELECT doc.source, c.doc_id, r.rep
         FROM documents doc
         JOIN cc c ON c.doc_id = doc.doc_id
         JOIN rep r ON r.cluster = c.cluster)
       SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_originals,
         CAST((1000000 * SUM(CASE WHEN doc_id = rep THEN 1 ELSE 0 END))
           // COUNT(*) AS BIGINT) AS originality_ppm
       FROM d GROUP BY source ORDER BY source""") { (s, dir) =>
    val lab = ccLabels(s, dir)
    val rep = lab.groupBy(col("cluster")).agg(min(col("doc_id")).as("rep"))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(lab, Seq("doc_id"))
      .join(rep, Seq("cluster"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("rep"), 1L).otherwise(0L))
          .as("n_originals"))
      .select(col("source"), col("n_docs"), col("n_originals"),
        expr("(1000000 * n_originals) div n_docs").as("originality_ppm"))
      .orderBy(col("source"))
  }

  /** q342 — CLUSTER METADATA-CONSISTENCY audit: every multi-doc
    * near-dup cluster (the q73 CC memo) with the SPREAD of its
    * members' metadata — distinct langs, distinct sources, min/max
    * n_chars. Near-identical content carrying two different language
    * labels or wildly different length metadata is labeler/extractor
    * noise made visible: the lang-ID gate (q42/q336) and any
    * source-level policy are only as sound as these labels, and the
    * cluster is exactly the unit where disagreement is checkable
    * (members are near-copies, so their metadata SHOULD agree). The
    * curation complement of q337 (quality × dup) and q339 (per-source
    * originality): same memo, label-consistency lens.
    *
    * Scale shape: a derived ledger over the persisted CC artifact —
    * one keyed join to documents, one partial-agg groupBy(cluster)
    * filtered to size ≥ 2; output is bounded by the number of
    * multi-doc clusters, never pairs. The oracle pays the usual
    * recursive-CTE closure cost (the q331/q339 precedent: the
    * quadratic lives in DuckDB's fixpoint, not the engine).
    */
  val q342 = oracled(
    "q342_cluster_label_consistency",
    "metadata spread inside each multi-doc near-dup cluster: lang/source/length disagreement ledger",
    s"""WITH RECURSIVE $ccOracleCte
       SELECT c.cluster, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
         CAST(MIN(d.n_chars) AS BIGINT) AS chars_min,
         CAST(MAX(d.n_chars) AS BIGINT) AS chars_max
       FROM cc c JOIN documents d ON d.doc_id = c.doc_id
       GROUP BY c.cluster HAVING COUNT(*) >= 2
       ORDER BY c.cluster""") { (s, dir) =>
    ccLabels(s, dir)
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_chars")).as("chars_min"),
        max(col("n_chars")).as("chars_max"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("cluster"))
  }

  /** q345 — CRAWL-INCREMENT AUDIT: split the corpus at the doc_id
    * midpoint into the COMMITTED half and the INCREMENT (the
    * deterministic value-based staging q334 uses), then ask the
    * question a crawl review asks before paying for ingestion: how
    * much of the new batch is a near-duplicate MIRROR of content the
    * corpus already has? Per (lang, source) of the increment: new
    * docs, new docs with a SimHash near-dup (Hamming ≤ [[HamT]])
    * among the committed half, and the fresh rate in ppm.
    *
    * Scale shape: a filter over the persisted pair ARTIFACT — a
    * cross-split pair is exactly (doc_a ≤ mid < doc_b) since pairs
    * are canonically doc_a < doc_b, so "mirror" is one filtered
    * projection + distinct + keyed semi-join, never a recompute of
    * candidate generation (the q338 sweep discipline). The streaming
    * twin of this ledger is [[graft.streaming.NearDupStream]]'s
    * delta×corpus intake; here it is the batch acceptance report.
    */
  val q345 = oracled(
    "q345_increment_audit",
    "new-half docs near-duplicating the committed half: per (lang, source) mirror/fresh ppm ledger",
    s"""WITH $simhashCte,
       pairs AS (
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= $HamT),
       m AS (SELECT CAST((MIN(doc_id) + MAX(doc_id)) // 2 AS BIGINT)
           AS mid FROM documents),
       newd AS (SELECT d.doc_id, d.lang, d.source
         FROM documents d CROSS JOIN m WHERE d.doc_id > m.mid),
       mirror AS (SELECT DISTINCT p.doc_b AS doc_id
         FROM pairs p CROSS JOIN m
         WHERE p.doc_a <= m.mid AND p.doc_b > m.mid)
       SELECT n.lang, n.source, CAST(COUNT(*) AS BIGINT) AS n_new,
         CAST(SUM(CASE WHEN mr.doc_id IS NULL THEN 0 ELSE 1 END)
           AS BIGINT) AS n_mirror,
         CAST((1000000 * SUM(CASE WHEN mr.doc_id IS NULL THEN 1 ELSE 0
           END)) // COUNT(*) AS BIGINT) AS fresh_ppm
       FROM newd n LEFT JOIN mirror mr ON mr.doc_id = n.doc_id
       GROUP BY 1, 2 ORDER BY n.lang, n.source""") { (s, dir) =>
    val m = Tables.documents(s, dir)
      .agg(expr("(MIN(doc_id) + MAX(doc_id)) div 2").as("mid"))
    val newd = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .crossJoin(broadcast(m))
      .filter(col("doc_id") > col("mid"))
    val mirror = simhashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .crossJoin(broadcast(m))
      .filter(col("doc_a") <= col("mid") && col("doc_b") > col("mid"))
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_mirror", lit(1L))
    newd.join(mirror, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_new"),
        sum(coalesce(col("is_mirror"), lit(0L))).as("n_mirror"))
      .select(col("lang"), col("source"), col("n_new"), col("n_mirror"),
        expr("(1000000 * (n_new - n_mirror)) div n_new").as("fresh_ppm"))
      .orderBy(col("lang"), col("source"))
  }

  /** q346 — REPRESENTATIVE-POLICY comparison: dedup keeps one doc per
    * cluster, but WHICH one is a policy choice with a measurable
    * per-source effect — min-doc-id (the q73/q339 canonical rep, i.e.
    * "first crawled wins") vs LONGEST-DOC (max n_chars, ties to the
    * smaller id — "keep the most complete copy", the common production
    * default because truncated mirrors are shorter than originals).
    * Per source: representative count and kept-character mass under
    * each policy, side by side — the number a curation review reads
    * before flipping the rep policy ("does first-crawled systematically
    * strand the fuller copies of source X?"). Singletons represent
    * themselves under both policies, so only multi-doc clusters can
    * move mass between sources.
    *
    * Scale shape: two bounded aggregates over the persisted CC
    * artifact — min(doc_id) and max(struct(n_chars, −doc_id)) per
    * cluster (both single partial-agg groupBys; the argmax travels as
    * one struct, no window) — then two keyed joins back to documents
    * and a source-grid assembly via left joins from the distinct
    * source list (a source CAN hold zero reps under a policy).
    */
  val q346 = oracled(
    "q346_rep_policy_comparison",
    "per-source representative count + kept chars under min-id vs longest-doc dedup policies",
    s"""WITH RECURSIVE $ccOracleCte,
       rm AS (SELECT cluster, MIN(doc_id) AS rep FROM cc GROUP BY 1),
       rl AS (SELECT cluster, doc_id AS rep FROM (
           SELECT c.cluster, c.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.cluster
               ORDER BY d.n_chars DESC, c.doc_id) AS rn
           FROM cc c JOIN documents d ON d.doc_id = c.doc_id) t
         WHERE rn = 1),
       srcs AS (SELECT DISTINCT source FROM documents),
       am AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d.n_chars) AS BIGINT) AS ch
         FROM rm JOIN documents d ON d.doc_id = rm.rep GROUP BY 1),
       al AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d.n_chars) AS BIGINT) AS ch
         FROM rl JOIN documents d ON d.doc_id = rl.rep GROUP BY 1)
       SELECT s.source,
         CAST(COALESCE(am.n, 0) AS BIGINT) AS n_reps_minid,
         CAST(COALESCE(am.ch, 0) AS BIGINT) AS chars_minid,
         CAST(COALESCE(al.n, 0) AS BIGINT) AS n_reps_longest,
         CAST(COALESCE(al.ch, 0) AS BIGINT) AS chars_longest
       FROM srcs s
       LEFT JOIN am ON am.source = s.source
       LEFT JOIN al ON al.source = s.source
       ORDER BY s.source""") { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
    val lab = ccLabels(s, dir).join(docs, Seq("doc_id"))
    val rm = lab.groupBy(col("cluster")).agg(min(col("doc_id")).as("rep"))
    val rl = lab.groupBy(col("cluster"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select((-col("m.neg_id")).as("rep"))
    def perSource(reps: DataFrame, n: String, ch: String): DataFrame =
      reps.join(docs.withColumnRenamed("doc_id", "rep"), Seq("rep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as(n), sum(col("n_chars")).as(ch))
    val srcs = docs.select(col("source")).distinct()
    srcs.join(perSource(rm.select(col("rep")), "n_reps_minid", "chars_minid"),
        Seq("source"), "left")
      .join(perSource(rl, "n_reps_longest", "chars_longest"),
        Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_reps_minid"), lit(0L)).as("n_reps_minid"),
        coalesce(col("chars_minid"), lit(0L)).as("chars_minid"),
        coalesce(col("n_reps_longest"), lit(0L)).as("n_reps_longest"),
        coalesce(col("chars_longest"), lit(0L)).as("chars_longest"))
      .orderBy(col("source"))
  }

  /** q347 — DUPLICATE-AWARE EFFECTIVE SIZE: weight every document by
    * 1/|its near-dup cluster| and sum per source — the "effective
    * dataset size" a dedup-aware loss weighting or mixture planner
    * sees (a source of 10⁶ docs that is one giant mirror cluster has
    * effective mass ≈ 1). The fractional complement of q339's 0/1
    * representative rate: q339 asks "who holds the originals", this
    * asks "how much UNIQUE mass does each source contribute when
    * every copy pays 1/k". Weights are floored to MICRO-docs
    * (10⁶ div k per member — declared floor semantics; the ≤ k−1
    * lost µdocs per cluster are the price of exact integer compare),
    * and the inflation ratio docs/effective is reported ×1000 with
    * DECIMAL(38,0)/HUGEINT widening (the q324 envelope discipline —
    * 10⁹·n_docs wraps Int64 at 10¹⁰ docs).
    *
    * Scale shape: cluster sizes are one partial-agg groupBy over the
    * persisted CC artifact; the weight is scan-local arithmetic on the
    * (doc, cluster, size) join; the ledger is one groupBy(source).
    */
  val q347 = oracled(
    "q347_effective_size",
    "per-source duplicate-aware effective mass: sum of 1/cluster-size in exact micro-docs",
    s"""WITH RECURSIVE $ccOracleCte,
       cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS k
         FROM cc GROUP BY 1),
       w AS (SELECT d.source, (1000000 // cs.k) AS w
         FROM cc c JOIN cs ON cs.cluster = c.cluster
         JOIN documents d ON d.doc_id = c.doc_id)
       SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS effective_micro,
         CAST((1000 * CAST(COUNT(*) AS HUGEINT) * 1000000)
           // SUM(w) AS BIGINT) AS inflation_x1000
       FROM w GROUP BY source ORDER BY source""") { (s, dir) =>
    val lab = ccLabels(s, dir)
    val cs = lab.groupBy(col("cluster")).agg(count(lit(1)).as("k"))
    lab.join(cs, Seq("cluster"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("source"), expr("1000000 div k").as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("effective_micro"))
      .select(col("source"), col("n_docs"), col("effective_micro"),
        expr("""CAST((1000 * CAST(n_docs AS DECIMAL(38,0)) * 1000000)
                div effective_micro AS BIGINT)""").as("inflation_x1000"))
      .orderBy(col("source"))
  }

  /** q349 — CLUSTER CHAINING audit: transitive closure is the textbook
    * dedup clustering (q73), and its textbook failure mode is CHAINING
    * — a~b and b~c union a with c even when a and c are NOT near-dups,
    * so a loose chain can glue unrelated documents into one "duplicate"
    * cluster and a rep-keeping policy then silently drops originals.
    * Per multi-doc cluster: members, DIRECT pairs (edges actually ≤
    * [[HamT]]), the worst direct-pair distance, and density_ppm =
    * direct pairs per possible pair — density 10⁶ means a clique
    * (every member is a true near-dup of every other; safe to keep one
    * rep), low density means a chain (review before deleting). The
    * quality gate on q73's own output.
    *
    * Scale shape: a derived ledger over the two persisted artifacts —
    * pair table and CC labels: one keyed join (pairs → cluster via
    * doc_a; both endpoints share a cluster by construction), two
    * partial-agg groupBys. Possible-pairs k(k−1)/2 and the ppm scaling
    * widen to DECIMAL(38,0)/HUGEINT (Int64 wraps at k ≈ 3×10⁹ members
    * / 9.2×10¹² pair-products — the q324 envelope discipline).
    */
  val q349 = oracled(
    "q349_cluster_chaining",
    "per-cluster direct-pair density + worst direct distance: the chaining audit over q73's closure",
    s"""WITH RECURSIVE $ccOracleCte,
       pd AS (SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist
         FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= $HamT),
       ks AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS k
         FROM cc GROUP BY 1 HAVING COUNT(*) >= 2),
       pc AS (SELECT c.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MAX(pd.dist) AS BIGINT) AS max_dist
         FROM pd JOIN cc c ON c.doc_id = pd.a GROUP BY 1)
       SELECT ks.cluster, ks.k AS n_docs, pc.n_pairs, pc.max_dist,
         CAST((2000000 * CAST(pc.n_pairs AS HUGEINT))
           // (CAST(ks.k AS HUGEINT) * (ks.k - 1)) AS BIGINT)
           AS density_ppm
       FROM ks JOIN pc ON pc.cluster = ks.cluster
       ORDER BY ks.cluster""") { (s, dir) =>
    val lab = ccLabels(s, dir)
    val ks = lab.groupBy(col("cluster")).agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2)
    val pc = simhashPairs(s, dir)
      .join(lab.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_pairs"), max(col("dist")).as("max_dist"))
    ks.join(pc, Seq("cluster"))
      .select(col("cluster"), col("k").as("n_docs"), col("n_pairs"),
        col("max_dist"),
        expr("""CAST((2000000 * CAST(n_pairs AS DECIMAL(38,0)))
                div (CAST(k AS DECIMAL(38,0)) * (k - 1))
                AS BIGINT)""").as("density_ppm"))
      .orderBy(col("cluster"))
  }

  /** q352 — PREFIX-PROBE cost ledger for the jaccard similarity-join
    * scheme (q48/q322, and the stream's probe —
    * [[graft.streaming.SimilarityJoinStream]]): per (lang, source)
    * block, documents, total shingle postings (Σ n_sh over the sorted
    * distinct HASHED bigrams — hashed in the oracle too, the
    * q328/q333 collision-declaring discipline), total PROBE rows the
    * t = 0.8 prefix actually explodes, and probe_ppm — the measured
    * fraction of the index a streaming arrival touches instead of its
    * full posting set. The prefix length is computed EXACT-INTEGER as
    * n − ⌈4n/5⌉ + 1 = n − (4n+4) div 5 + 1 (n > 0; 0 when the doc has
    * no shingles): for t = 4/5 this equals the engine's float form
    * n − ceil(0.8·n − 1e-9) + 1 — 4n/5's fractional part lives in
    * {0, .2, .4, .6, .8}, so the 1e-9 guard never crosses an integer
    * — giving both engines the same ledger with no float division
    * anywhere.
    *
    * Scale shape: the shingle build is the q48 scan (per-doc local),
    * then ONE partial agg per block — the ledger never generates a
    * candidate pair. The 10⁶ scaling widens to DECIMAL(38,0)/HUGEINT.
    */
  val q352 = {
    val hashSql = RollingHash.duckSql("b", sfx = "2")
    oracled(
      "q352_prefix_probe_ledger",
      "probe rows vs full postings for the t=0.8 jaccard prefix scheme: what a stream arrival actually touches",
      s"""WITH t AS (
           SELECT doc_id, lang, source,
             string_split(trim(text), ' ') AS toks FROM documents),
         bg AS (
           SELECT doc_id, lang, source,
             len(list_distinct(list_transform(
               list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]),
               b -> $hashSql))) AS n_sh
           FROM t),
         p AS (SELECT lang, source, n_sh,
             CASE WHEN n_sh = 0 THEN 0
                  ELSE n_sh - (4 * n_sh + 4) // 5 + 1 END AS probe_len
           FROM bg)
         SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sh) AS BIGINT) AS total_postings,
           CAST(SUM(probe_len) AS BIGINT) AS probe_rows,
           CAST((1000000 * CAST(SUM(probe_len) AS HUGEINT))
             // GREATEST(SUM(n_sh), 1) AS BIGINT) AS probe_ppm
         FROM p GROUP BY 1, 2 ORDER BY lang, source""") { (s, dir) =>
      bigramShingleVecs(tokenized(s, dir))
        .select(col("lang"), col("source"), col("n_sh"),
          expr("""CASE WHEN n_sh = 0 THEN 0
                  ELSE n_sh - (4 * n_sh + 4) div 5 + 1 END""").as("probe_len"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("total_postings"),
          sum(col("probe_len")).as("probe_rows"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("total_postings"), col("probe_rows"),
          expr("""CAST((1000000 * CAST(probe_rows AS DECIMAL(38,0)))
                  div GREATEST(total_postings, 1) AS BIGINT)""")
            .as("probe_ppm"))
        .orderBy(col("lang"), col("source"))
    }
  }

  val all: Seq[GQuery] =
    Seq(q44, q45, q46, q47, q48, q73, q83, q93, q132, q149, q157, q189,
      q204, q230, q247, q255, q256, q259, q280, q288, q294, q320, q331,
      q333, q338, q339, q342, q345, q346, q347, q349, q352)
}
