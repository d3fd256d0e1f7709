package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import graft.operators.{Dedup, Graph}

/** STREAMING pair-free near-dup clustering — the incremental twin of
  * batch q255's star contraction (VERDICT r10 #5), i.e. the production
  * shape of corpus dedup: cluster labels are a maintained ARTIFACT and
  * each arriving micro-batch updates them with delta-sized work, never
  * re-clustering the corpus.
  *
  * Per micro-batch ([[step]] — a PURE (labels, hubs, batch) →
  * (labels', hubs') function shared verbatim by the batch replay query
  * q256, so stream == batch is equality of the same fold):
  *
  *   1. MinHash the batch with the SAME construction as q45/q255
  *      ([[Dedup.minhashSignatures]] — bit-identical signatures),
  *      group by full signature (gid = min doc_id in batch).
  *   2. Emit q255's LINEAR star edges for the delta: doc → gid within
  *      each batch signature group; per (band, sig) bucket, gid → the
  *      bucket's persisted HUB if the bucket was seen before, else
  *      gid → batch-bucket-min (which becomes the stored hub). Every
  *      doc that ever shares a bucket is connected through its hub —
  *      the same connectivity argument as q255, O(batch + sigs×bands)
  *      edges, never Σ bucket².
  *   3. CONTRACT both endpoints through the current labels (q251's
  *      delta-through-labels move: an old doc stands for its whole
  *      component) and run [[Graph.cc]] on the contraction — node set
  *      = batch docs + touched component labels, delta-sized.
  *   4. Relabel: old components remap through the contraction's
  *      min-label result, batch docs adopt theirs. Min-of-mins
  *      composes, so after any prefix of batches the labels EQUAL the
  *      from-scratch q255 answer on the union of arrived docs
  *      (ClusterStreamSpec asserts it per batch, plus restart).
  *
  * State: `labelsDir` (doc_id, cluster) and `hubDir` (band, sig, rep)
  * as parquet, rewritten per batch via localCheckpoint-then-overwrite
  * (the read side is materialized before the path is truncated). At
  * 100 TB both stores are the bounded artifacts of the batch family —
  * labels are 2 longs/doc, hubs one row per distinct (band, sig) —
  * and a production deployment swaps the overwrite for a keyed MERGE.
  *
  * Delivery note (the [[NearDupStream]] caveat): `foreachBatch` is
  * at-least-once on retry; [[step]] re-applied to already-updated
  * state is a fixpoint (all delta edges contract to self-loops and
  * drop; the batch-doc anti-join below keeps labels row-unique), but
  * the two-store write pair is not transactional — exactly-once needs
  * both writes behind one committed MERGE. The spec exercises clean
  * runs and a checkpoint-boundary restart.
  */
object ClusterStream {

  private val labelsSchema =
    new StructType().add("doc_id", LongType).add("cluster", LongType)
  private val hubsSchema = new StructType()
    .add("band", IntegerType).add("sig", StringType).add("rep", LongType)

  /** Empty initial states for a from-nothing fold (batch q256). */
  private[graft] def emptyLabels(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], labelsSchema)
  private[graft] def emptyHubs(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], hubsSchema)

  /** One incremental update. labels: (doc_id, cluster); hubs:
    * (band, sig, rep); batch: the `documents` shape. Returns the
    * updated (labels, hubs) — both fully materialized frames.
    */
  private[graft] def step(labels: DataFrame, hubs: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) =
    stepSigs(labels, hubs,
      Dedup.minhashSignatures(Dedup.tokensOf(batch)),
      batch.select(col("doc_id")))

  /** [[step]] with the per-doc MinHash signatures ALREADY computed —
    * (doc_id, mh) with exactly one row per batch doc. The signature is
    * a pure per-doc function, so a batch replay whose corpus signatures
    * are a persisted artifact (q256 over `minhash_groups`) feeds the
    * artifact slice instead of re-tokenizing + re-hashing the text per
    * batch (guide §2.3/§6 — don't recompute what an artifact already
    * holds); the streaming sink, whose docs arrive as text, goes
    * through [[step]] and computes them. `batchIds`: the batch's doc
    * ids (one row per doc), used for the keep-labels anti-join.
    *
    * @param eagerOutputs when true (the streaming path), both returned
    *  frames are EAGER checkpoints — processBatch overwrites the
    *  parquet paths they were read from, so they must be materialized
    *  before the write. The in-memory replay fold (q256) passes false:
    *  the next step's contraction actions (or the final consumer)
    *  materialize them, saving two driver barriers per step (r17).
    */
  private[graft] def stepSigs(labels: DataFrame, hubs: DataFrame,
      rawSigs: DataFrame, batchIds: DataFrame,
      eagerOutputs: Boolean = true): (DataFrame, DataFrame) = {
    // groupBy+join rep labeling (same shape as Dedup.labeledSignatures:
    // the signature key is low-cardinality, so an aggregate window over
    // it would be one task per signature group on a large replay batch)
    val sigs = rawSigs
      .join(rawSigs.groupBy(col("mh")).agg(min(col("doc_id")).as("gid")),
        Seq("mh"))
      // lazy (r17): the contraction's first action materializes it in
      // the same DAG; stars/reps/relabel then read the pinned RDD —
      // one fewer driver barrier per step (guide §2 — the 4-step replay
      // is barrier-bound at fixture scale)
      .localCheckpoint(false)
    val starWithin = sigs.filter(col("doc_id") =!= col("gid"))
      .select(col("doc_id").as("a"), col("gid").as("b"))
    val reps = Dedup.bandReps(sigs)
    // seen buckets: connect to the persisted hub; new buckets: star to
    // the batch-bucket-min, which becomes the stored hub.
    // r17 (guide §2.4 — fewer exchanges per step): ONE per-bucket
    // aggregate (bmin = batch-bucket-min gid) left-joined once against
    // the hub store serves BOTH bucket classes — the star target is
    // coalesce(rep, bmin) (the persisted hub when seen, the batch min
    // when new), and newHubs is the rep-null slice of the same frame.
    // The r16 shape paid a member-level hub join (reps ⋈ hubs) plus a
    // groupBy plus a join-back (toNew ⋈ newHubs); this pays one
    // bucket-level groupBy + one bucket-level hub join, and the reps
    // exchange on (band, sig) is shared by the aggregate and the
    // star-edge join (ReusedExchange). Still a groupBy, NOT a window
    // over (band, sig) — the round-6 hot-bucket rule.
    val bktHub = reps.groupBy(col("band"), col("sig"))
      .agg(min(col("gid")).as("bmin"))
      .join(hubs, Seq("band", "sig"), "left")
      .select(col("band"), col("sig"), col("bmin"),
        coalesce(col("rep"), col("bmin")).as("target"),
        col("rep").isNull.as("isnew"))
      .localCheckpoint(false)
    val newHubs = bktHub.filter(col("isnew"))
      .select(col("band"), col("sig"), col("bmin").as("rep"))
    val across = reps
      .join(bktHub.select(col("band"), col("sig"), col("target")),
        Seq("band", "sig"))
      .filter(col("gid") =!= col("target"))
      .select(col("gid").as("a"), col("target").as("b"))
    // no .distinct() (r17): [[Graph.cc]]'s min-label propagation is
    // insensitive to duplicate edges (a gid meets the same target in at
    // most NumBands buckets — bounded dup factor), and the distinct
    // cost a full exchange per step
    val edges = starWithin.unionByName(across)
    // q251 contraction: EVERY endpoint — including the batch docs
    // themselves — enters the component computation as its current
    // label (`start`). On first delivery a batch doc is absent from
    // `labels` and its start is its own id; on a duplicate delivery it
    // is its committed cluster, so all delta edges contract to
    // self-loops, every start is an isolated cc node mapping to
    // itself, and the state is a FIXPOINT (ClusterStreamSpec pins the
    // law — the first draft keyed the relabel on raw ids and a replay
    // silently reset the batch's labels).
    val lmap = labels.select(col("doc_id").as("n"), col("cluster").as("l"))
    val starts = sigs.select(col("doc_id"))
      .join(lmap.withColumnRenamed("n", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("l"), col("doc_id")).as("start"))
      .localCheckpoint(false) // lazy: first consumer materializes (r16)
    val contracted = edges
      .join(lmap.select(col("n").as("a"), col("l").as("la")), Seq("a"), "left")
      .join(lmap.select(col("n").as("b"), col("l").as("lb")), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    // r17: the node set passed to cc only matters for its SINGLETON
    // path (nodes with no edge) — every contracted endpoint appears in
    // an edge and is labeled by the propagation loop regardless, so
    // unioning the endpoints in only enlarged the distinct for nothing
    // (cc output row set is identical either way)
    val nodes = starts.select(col("start").as("node")).distinct()
    // lazy (r16): cc's last round is already a materialized RDD; this
    // checkpoint only pins the union-with-singletons, which the final
    // labels action materializes once for both consumers below
    val comp = Graph.cc(nodes, contracted).localCheckpoint(false)
    // relabel old components; batch docs adopt their start's component.
    // The anti-join keeps one row per doc under re-application.
    val remapOld = comp.select(col("node").as("cluster"), col("component"))
    val keptOld = labels
      .join(batchIds, Seq("doc_id"), "left_anti")
      .join(remapOld, Seq("cluster"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("cluster")).as("cluster"))
    val newLabels = starts
      .join(comp.select(col("node").as("start"), col("component")),
        Seq("start"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("start")).as("cluster"))
    (keptOld.unionByName(newLabels).localCheckpoint(eagerOutputs),
      hubs.unionByName(newHubs).localCheckpoint(eagerOutputs))
  }

  /** Start the streaming intake: cluster labels maintained at
    * `labelsDir`, bucket hubs at `hubDir`.
    *
    * @param docs streaming frame with (doc_id LONG, lang, source,
    *             text STRING) — the `documents` shape
    */
  def start(docs: DataFrame, labelsDir: String, hubDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, labelsDir, hubDir)
      }
      .start()

  private def readOr(s: org.apache.spark.sql.SparkSession, dir: String,
      schema: StructType): DataFrame = {
    // Hadoop FileSystem existence check — see IndexStream.readOr (a
    // java.io.File check silently treats HDFS/S3 state as empty)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) s.read.parquet(dir)
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private[graft] def processBatch(batch: DataFrame, labelsDir: String,
      hubDir: String): Unit = {
    val s = batch.sparkSession
    val (labels2, hubs2) = step(
      readOr(s, labelsDir, labelsSchema), readOr(s, hubDir, hubsSchema),
      batch.localCheckpoint())
    // step localCheckpoints both outputs, so overwriting the paths they
    // were read from is safe
    labels2.write.mode(SaveMode.Overwrite).parquet(labelsDir)
    hubs2.write.mode(SaveMode.Overwrite).parquet(hubDir)
  }
}
