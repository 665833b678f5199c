package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.core.Stores.hasData
import graft.operators.Linkage
import graft.operators.Linkage._

/** Continuous ENTITY RESOLUTION of an unbounded feed — the streaming
  * face of the `Linkage` family (block → score → resolve → merge),
  * completing the store-backed ingest symmetry (IngestDedup resolves
  * content, IngestFuzzy resolves typo-keys; this resolves ENTITIES:
  * the same real-world thing arriving repeatedly across feeds and
  * time, the reference's freshness watch loop lifted to records the
  * way IngestDedup lifted it to content).
  *
  * Semantics are the SEQUENTIAL-ARRIVAL resolution (the incremental
  * analogue of `entityClusters`, exactly as IngestFuzzy's first-wins
  * cascade is the incremental analogue of the pair closure): records
  * are resolved in id order, and each record's PARENT is its
  * best-scoring prior record — any store member, or a smaller-id
  * record of the same batch — with score ≥ threshold (ties break to
  * the smallest prior id). A record with no parent FOUNDS an entity
  * (entity = its own id); otherwise it joins its parent's entity.
  * Because every parent has a smaller id, the parent pointers form a
  * forest, and a component's root (= its minimum id, resolvable by
  * connected components) carries the entity for the whole chain. The
  * decision for record r depends only on records before r, so
  * processing a feed in ANY id-ordered batch split is bit-identical
  * to processing it in one batch (IngestLinkageSpec fold-parity pin;
  * feeds arriving id-ordered is the store contract, the IngestFuzzy
  * id-ordered-slice discipline).
  *
  * State is parquet, not Spark streaming state:
  *   members/  (id, block, <rule fields>, entity) — every resolved
  *             record, the probe side of all later batches
  *   entities/ (entity, ver, <merge fields>[, <f>__ts]) — the golden
  *             record per entity, append-only versions; the latest
  *             `ver` wins (`goldenLatest`)
  *   meta/ rules/ mrules/ — threshold, field rules + integer weights,
  *             merge rules: the full model is fixed at `linkSave` and
  *             read back per batch, so probes can never run a
  *             different model than the store was built with
  *
  * Survivorship is INCREMENTAL: each merge rule is an associative
  * aggregate over (existing golden at seq −1, batch records at seq =
  * id) whose one-batch result equals the id-ordered pairwise
  * `goldenRecords` fold — Longest/Greatest pick the max key with
  * earliest-wins ties, PreferA pins the founder's value, Newest keeps
  * the winning value's timestamp in a `<f>__ts` column so later
  * batches compare against it. PreferB is rejected at `linkSave`
  * (arrival-order-dependent, so replays could rewrite history — use
  * Newest with a real timestamp). Null timestamps sort below every
  * non-null timestamp.
  *
  * Delivery is at-least-once like every store here, and the gate is
  * REPLAY-IDEMPOTENT: a replayed record re-finds itself in members/
  * at the maximum score (all fields agree; `linkSave` requires
  * Σ w_agree ≥ threshold exactly so self-match always clears the
  * bar), lands back in its own entity, and re-merging its fields into
  * the golden record is a no-op by the aggregates' monotonicity.
  * Duplicated member/out rows are bit-identical; `compactStore` and
  * `compactKept` reclaim them offline.
  *
  * Shapes for scale: the store probe is ONE blocked equi-join whose
  * batch side broadcasts — members/ is never shuffled and per-batch
  * cost tracks the batch, not the store (the flat-append law every
  * ingest store follows); the in-batch self-join is quadratic in
  * batch size on adversarial keys (round-9), so it runs through
  * `fieldAgreementsAuto` with BATCH-sized count aggregates — hot
  * blocks split automatically, and the micro-batch sizing discipline
  * (~10⁴ keys) still owns the law. Parent-chain resolution localizes
  * a batch-bounded component set (the bounded-k rule), never a
  * corpus-wide graph. Appends follow the refreshByPath order: every
  * append frame is persisted, counted, and LINEAGE-CUT before the
  * first write, then out → entities/ → members/ (the store every
  * later batch reads grows last). */
object IngestLinkage {

  // partition-column layouts — recomputed on every probe/append from
  // the geometry in force, so a rebalance never changes any answer:
  // members/ buckets by BLOCK KEY (a batch probes only the partitions
  // its own blocks hash to — xxhash64 maps a null block to its seed
  // hash, so null-block rows land in a normal bucket and never match
  // anyway), entities/ by entity id (a batch's survivorship reads only
  // its own entities' partitions)
  private def mbCol(nBuckets: Int) =
    pmod(xxhash64(col("block")), lit(nBuckets.toLong)).cast("int")
  private def ebCol(nBuckets: Int) =
    pmod(xxhash64(col("entity")), lit(nBuckets.toLong)).cast("int")

  /** Fix the model at `path`: field rules + integer LLR weights +
    * decision threshold + survivorship rules + the store partition
    * geometry (`nBuckets`). Geometry starts SMALL and grows with the
    * store (`linkMaintain`, the shared `Stores.maintain` rule): every
    * append commits up to one file per bucket, so an oversized
    * geometry on a young store pays pure filesystem-commit overhead
    * (measured ~1 s per 16 extra files per append at sf0.1) while a
    * grown store re-buckets once, amortized. Creates empty members/
    * and entities/; feed records through `processBatch`. */
  def linkSave(spark: SparkSession, path: String, rules: Seq[FieldRule],
               weights: Map[String, (Int, Int)], threshold: Int,
               merge: Seq[MergeRule], nBuckets: Int = 16): Unit = {
    import spark.implicits._
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(rules.nonEmpty, "at least one field rule")
    require(merge.nonEmpty, "at least one merge rule")
    require(rules.map(_.field).distinct.size == rules.size,
      s"one rule per field: ${rules.map(_.field)}")
    require(merge.map(_.field).distinct.size == merge.size,
      s"one merge rule per field: ${merge.map(_.field)}")
    require(rules.forall(r => weights.contains(r.field)),
      s"weights must cover every rule field: ${rules.map(_.field)}")
    require(!merge.exists(_.isInstanceOf[PreferB]),
      "PreferB is arrival-order-dependent (a replay could rewrite the " +
        "golden record); use Newest with a real timestamp")
    val allAgree = rules.map(r => weights(r.field)._1).sum
    require(allAgree >= threshold,
      s"sum of agreement weights ($allAgree) must clear the threshold " +
        s"($threshold) or a replayed record cannot re-find itself and " +
        "the gate loses idempotency")
    Seq((threshold, nBuckets)).toDF("threshold", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    rules.zipWithIndex.map { case (r, i) =>
      val (wA, wD) = weights(r.field)
      r match {
        case LevRule(f, d)  => (i, f, "lev", d.toLong, wA, wD)
        case ExactRule(f)   => (i, f, "exact", 0L, wA, wD)
        case BandRule(f, t) => (i, f, "band", t, wA, wD)
      }
    }.toDF("pos", "field", "kind", "param", "w_agree", "w_disagree")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rules")
    merge.zipWithIndex.map { case (m, i) =>
      m match {
        case PreferA(f)    => (i, f, "prefa", null: String)
        case Longest(f)    => (i, f, "longest", null: String)
        case Greatest(f)   => (i, f, "greatest", null: String)
        case Newest(f, ts) => (i, f, "newest", ts)
        case PreferB(f)    => (i, f, "prefb", null: String) // unreachable
      }
    }.toDF("pos", "field", "kind", "tsf")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/mrules")
  }

  private[graft] final case class Cfg(rules: Seq[FieldRule],
                                      weights: Map[String, (Int, Int)],
                                      threshold: Int, merge: Seq[MergeRule],
                                      nBuckets: Int)

  // meta/rules/mrules read through the listing-keyed driver memo
  // (`Stores.memoRows`): rules/mrules are immutable after linkSave and
  // meta is rewritten only by linkSave/linkRebalance (offline by
  // contract) — readCfg ran once per micro-batch at ~6 Spark jobs of
  // 1-row parquet reads each time (round-14 job profile); a repeat
  // read is now three filesystem listings, no job.
  private[graft] def readCfg(spark: SparkSession, path: String): Cfg = {
    require(hasData(spark, s"$path/meta"),
      s"$path is not a linkSave store (missing meta/)")
    val (mschema, mrows) = graft.core.Stores.memoRows(spark, s"$path/meta")
    require(mschema.fieldNames.contains("n_buckets"),
      s"$path uses the pre-bucketed linkage store layout; recreate it " +
        "with linkSave (meta lacks n_buckets)")
    val mrow = mrows.head
    val threshold = mrow.getInt(0)
    val nBuckets = mrow.getInt(1)
    val rr = graft.core.Stores.memoRows(spark, s"$path/rules")._2
      .sortBy(_.getInt(0)).toSeq
    val rules = rr.map { r =>
      (r.getString(2) match {
        case "lev"   => LevRule(r.getString(1), r.getLong(3).toInt)
        case "exact" => ExactRule(r.getString(1))
        case "band"  => BandRule(r.getString(1), r.getLong(3))
      }): FieldRule
    }
    val weights = rr.map(r => r.getString(1) -> (r.getInt(4), r.getInt(5))).toMap
    val merge = graft.core.Stores.memoRows(spark, s"$path/mrules")._2
      .sortBy(_.getInt(0)).toSeq.map { m =>
        (m.getString(2) match {
          case "prefa"    => PreferA(m.getString(1))
          case "longest"  => Longest(m.getString(1))
          case "greatest" => Greatest(m.getString(1))
          case "newest"   => Newest(m.getString(1), m.getString(3))
        }): MergeRule
      }
    Cfg(rules, weights, threshold, merge, nBuckets)
  }

  /** The columns a batch must carry beyond doc_id + block. */
  private def dataCols(cfg: Cfg): Seq[String] =
    (cfg.rules.map(_.field) ++ cfg.merge.map(_.field) ++
      cfg.merge.collect { case Newest(_, ts) => ts }).distinct

  /** The latest golden record per entity — (entity, ver, <merge
    * fields>[, <f>__ts aux]); empty-store safe. */
  def goldenLatest(spark: SparkSession, path: String): DataFrame = {
    val cfg = readCfg(spark, path)
    graft.core.Stores.healAside(spark, s"$path/entities")
    val all =
      if (hasData(spark, s"$path/entities"))
        spark.read.parquet(s"$path/entities").drop("eb")
      else emptyGolden(spark, path, cfg)
    all.withColumn("__rn", row_number().over(
        Window.partitionBy("entity").orderBy(col("ver").desc)))
      .where(col("__rn") === 1).drop("__rn")
  }

  // members/ before the first append has no schema on disk; derive the
  // empty frame from the batch's own projection so types always match
  private def emptyMembersFrom(b0: DataFrame, cfg: Cfg): DataFrame =
    b0.select((col("id") +: col("block") +:
      cfg.rules.map(r => col(r.field))): _*)
      .withColumn("entity", lit(null).cast("long")).limit(0)

  private def emptyGolden(spark: SparkSession, path: String,
                          cfg: Cfg): DataFrame = {
    // schema can't be derived without a batch; entities/ is created on
    // the first processBatch, so an empty read only needs the shape
    val fields = cfg.merge.map(_.field)
    val aux = cfg.merge.collect { case Newest(f, _) => s"${f}__ts" }
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("entity",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ver",
            org.apache.spark.sql.types.LongType)) ++
        (fields ++ aux).map(f => org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** One merge rule as its incremental aggregate over rows (entity,
    * seq, <fields>[, <f>__ts]): golden rides at seq −1 (so the
    * earliest-wins tie always keeps what the fold already chose),
    * batch records at seq = id. Each aggregate's one-batch result
    * equals the id-ordered pairwise `goldenRecords` fold. */
  private def mergeAggs(m: MergeRule): Seq[org.apache.spark.sql.Column] =
    m match {
      case PreferA(f) =>
        Seq(min(struct(col("seq").as("s"), col(f).as("v")))
          .getField("v").as(f))
      case Longest(f) =>
        Seq(max(when(col(f).isNotNull,
          struct(length(col(f)).as("k"), (-col("seq")).as("t"),
            col(f).as("v")))).getField("v").as(f))
      case Greatest(f) =>
        Seq(max(when(col(f).isNotNull,
          struct(col(f).as("k"), (-col("seq")).as("t"),
            col(f).as("v")))).getField("v").as(f))
      case Newest(f, _) =>
        val m0 = max(when(col(f).isNotNull,
          struct(col(s"${f}__ts").as("k"), (-col("seq")).as("t"),
            col(f).as("v"), col(s"${f}__ts").as("ts"))))
        Seq(m0.getField("v").as(f), m0.getField("ts").as(s"${f}__ts"))
      case PreferB(f) =>
        throw new IllegalStateException(s"PreferB($f) rejected at linkSave")
    }

  /** Resolve one micro-batch against the store: assign-or-create
    * entity ids, merge survivorship, append (doc_id…, entity) rows to
    * `outPath` and grow the store. Returns the batch row count.
    * Input contract: doc_id (globally unique, feeds arrive id-ordered),
    * block (null blocks never match — they found their own entities),
    * plus every rule/merge/timestamp field the store's model names. */
  def processBatch(batch: DataFrame, storePath: String, outPath: String,
                   inBatchTargetPairs: Long = 1L << 20,
                   inBatchMaxSalt: Int = 32): Long = {
    val spark = batch.sparkSession
    val cfg = readCfg(spark, storePath)
    val fields = cfg.rules.map(_.field)
    // ONE persist of the raw batch: the out-append needs the batch's
    // full row anyway, and persisting the source (instead of only the
    // b0 projection) keeps the feed's derivation subplan from
    // re-executing at the outRows write (round-14 job profile: the
    // feed scan ran twice per micro-batch). b0 stays a projection over
    // the cache — every later consumer reads cached rows.
    val batchP = batch.persist(StorageLevel.MEMORY_AND_DISK)
    val b0 = batchP.select((col("doc_id").cast("long").as("id") +:
        col("block") +: dataCols(cfg).map(col)): _*)
    // per-dir geometry (marker-first): probe bucket ids and append
    // bucket columns MUST both come from the geometry the dir's data
    // is actually partitioned by, whatever meta says
    val mbN = graft.core.Stores.geometry(spark, s"$storePath/members", cfg.nBuckets)
    val ebN = graft.core.Stores.geometry(spark, s"$storePath/entities", cfg.nBuckets)
    // one action where there were two (batch count + bucket collect):
    // the per-bucket count frame carries both the batch size and the
    // batch's distinct member-bucket set (statistics-sized, ≤ mbN rows)
    val mbAgg = b0.groupBy(mbCol(mbN).as("mb"))
      .agg(count(lit(1)).as("c")).collect()
    val n = mbAgg.map(_.getLong(1)).sum
    if (n == 0) { batchP.unpersist(blocking = false); return 0L }
    // the members/ read prunes to the batch's own BLOCK-KEY partitions:
    // the batch's distinct bucket set is batch-bounded (collected
    // driver-side, ≤ min(distinct blocks, nBuckets)), every possible
    // store match shares a block with some batch record by the blocked
    // join's construction, and a replayed record's own block is in the
    // set — so the pruned frame is probe-complete. A batch covering
    // every bucket skips the filter (graceful full scan, never worse).
    val members =
      if (hasData(spark, s"$storePath/members")) {
        val buckets = mbAgg.map(_.getInt(0))
        // direct-path bucket read (the lexBucketRead discipline):
        // never list the unprobed buckets' dirs
        val all = graft.core.Stores.bucketRead(
          spark, s"$storePath/members", "mb", buckets.toIndexedSeq, mbN)
        (if (buckets.length < mbN)
           all.where(col("mb").isin(buckets.map(Integer.valueOf): _*))
         else all).drop("mb")
      } else emptyMembersFrom(b0, cfg)
    // best prior per record: store members at any id (a replay finds
    // itself at distance 0), same-batch records at smaller ids only —
    // one blocked probe each, scored with the stored integer weights
    val score = Linkage.scoreColumn(cfg.rules, cfg.weights)
    // the batch side broadcasts EXPLICITLY: members/ is the corpus-
    // scale side and must stream straight from parquet into the join
    // with no shuffle — static size estimates on a persisted batch
    // frame are not to be trusted with that decision (the round-3/7
    // explode-blinded-broadcast lessons), and the micro-batch sizing
    // discipline (~10⁴ records) keeps the broadcast a few MB
    val storePairs = Linkage.fieldAgreements(members, broadcast(b0), cfg.rules)
      .withColumn("score", score.cast("int"))
      .where(col("score") >= cfg.threshold)
    // auto-salt's per-block count pass only matters once SOME block
    // could cross the target; when the whole batch bounds every block
    // (n² ≤ target) hotBlocks is empty by construction and the plain
    // blocked join is output-identical — skip the two count aggregates
    // (micro-batches at the ~10⁴ sizing discipline always take this
    // path; corpus-fraction backfills keep the auto dial)
    val batchSelf =
      if (n <= math.sqrt(inBatchTargetPairs.toDouble).toLong)
        Linkage.fieldAgreements(b0, b0, cfg.rules)
      else Linkage.fieldAgreementsAuto(b0, b0, cfg.rules,
        inBatchTargetPairs, inBatchMaxSalt)
    val batchPairs = batchSelf
      .withColumn("score", score.cast("int"))
      .where(col("score") >= cfg.threshold && col("id_a") < col("id_b"))
    val parents = storePairs.unionByName(batchPairs)
      .withColumn("__rn", row_number().over(Window.partitionBy("id_b")
        .orderBy(col("score").desc, col("id_a").asc)))
      .where(col("__rn") === 1)
      .select(col("id_b").as("id"), col("id_a").as("parent"))
    // parents pointing at members resolve directly; parents pointing
    // inside the batch form a forest (every parent id is smaller), and
    // each tree's root — the component minimum — owns the entity.
    // The entity lookup joins the PRUNED members (a store parent shares
    // its child's block, so it lives in a probed partition) with the
    // batch-bounded parents side broadcast — an INNER join can build on
    // the small side where the old left-outer shape could not, so
    // members stream here too instead of shuffling
    val parentsP = parents.persist(StorageLevel.MEMORY_AND_DISK)
    // Everything from here to the entity assignment is batch-bounded
    // (≤ 1 parent row per batch record), so the whole forest resolves
    // DRIVER-SIDE: the only distributed step that touches store-scale
    // data is the members⋈parents probe above. The previous shape ran
    // GraphX CC + a 4-join entity lookup over these same driver-collected
    // rows — ~2–3 s of Pregel job launches per batch for a graph that
    // fits in a HashMap (round-13 job profile; same lesson as the
    // driver-side coarse Lloyd fits).
    // (a round-14 attempt fused these two collects into one tagged
    // union — measured MORE jobs, not fewer: AQE jobs track stages,
    // not executions, and the union added a stage. Two collects stay.)
    val directRows = members.select(col("id").as("parent"), col("entity"))
      .join(broadcast(parentsP), Seq("parent"))
      .select("id", "entity").collect() // batch-bounded (≤ 1 row/record)
    // min-merge duplicates exactly like the old groupBy(id).min(entity)
    // (store members are unique per id outside crash-duplicate windows,
    // where min is the documented repair-invariant choice)
    val directMap: Map[Long, Long] = directRows.groupBy(_.getLong(0))
      .map { case (i, rs) => i -> rs.map(_.getLong(1)).min }
    val parentArr = parentsP.select("id", "parent").collect()
    parentsP.unpersist(blocking = false)
    // in-batch forest: id → parent with parent < id (best-match row per
    // id_b), ids whose parent resolved via the store excluded — each
    // chain terminates at its component MINIMUM, which is what GraphX
    // CC returned here (every edge points strictly downward)
    val edgeMap: Map[Long, Long] = parentArr.iterator
      .filterNot(r => directMap.contains(r.getLong(0)))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    (edgeMap.keysIterator ++ edgeMap.valuesIterator).foreach { v =>
      var path = List.empty[Long]; var cur = v
      while (!comp.contains(cur) && edgeMap.contains(cur)) {
        path = cur :: path; cur = edgeMap(cur)
      }
      val r = comp.getOrElse(cur, cur)
      (cur :: path).foreach(u => comp.update(u, r))
    }
    // entity per resolved id: direct store hits, then forest vertices
    // through their root's entity (root in the store keeps its stored
    // entity, a fresh root founds entity = its own id); ids present in
    // both min-merge, matching the old union+groupBy(min)
    val resolved = scala.collection.mutable.HashMap.empty[Long, Long]
    directMap.foreach { case (i, e) => resolved.update(i, e) }
    comp.foreach { case (v, r) =>
      val e = directMap.getOrElse(r, r)
      resolved.update(v, math.min(resolved.getOrElse(v, Long.MaxValue), e))
    }
    val resolvedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(resolved.toSeq.map {
        case (i, e) => Row(i, e) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("entity",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val assign = b0.select(col("id"))
      .join(broadcast(resolvedDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("entity"), col("id")).as("entity"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // no eager count: assign's lineage is cached-batch ⋈ driver-local
    // frame (no store read), so the first consumer — the ebuckets
    // collect or the golden fold — materializes the persist for free
    // survivorship: existing golden (seq −1) + assigned records (seq =
    // id) fold through the incremental aggregates; ver advances to the
    // newest record merged so the latest row per entity wins
    val touched = assign.join(b0, Seq("id"))
    val auxTs = cfg.merge.collect { case Newest(f, ts) =>
      (col(ts).as(s"${f}__ts"), s"${f}__ts") }
    val recRows = touched.select((col("entity") +: col("id").as("seq") +:
      col("id").as("vseq") +: cfg.merge.map(m => col(m.field)) ++:
      auxTs.map(_._1)): _*)
    // entities/ prunes to the batch's own entity partitions: the
    // survivorship fold only ever reads golden rows for entities the
    // batch touched (batch-bounded bucket set; the semi-join below
    // still applies the exact entity filter)
    val goldenAll =
      if (hasData(spark, s"$storePath/entities")) {
        val ebuckets = assign.select(ebCol(ebN).as("eb")).distinct()
          .collect().map(_.getInt(0))
        val all = graft.core.Stores.bucketRead(
          spark, s"$storePath/entities", "eb", ebuckets.toIndexedSeq, ebN)
        (if (ebuckets.length < ebN)
           all.where(col("eb").isin(ebuckets.map(Integer.valueOf): _*))
         else all).drop("eb")
      } else recRows.select((col("entity") +: col("vseq").as("ver") +:
        cfg.merge.map(m => col(m.field)) ++: auxTs.map(t => col(t._2))): _*)
        .limit(0)
    val gRows = goldenAll.withColumn("__rn", row_number().over(
        Window.partitionBy("entity").orderBy(col("ver").desc)))
      .where(col("__rn") === 1)
      .join(assign.select(col("entity")).distinct(), Seq("entity"), "left_semi")
      .select((col("entity") +: lit(-1L).as("seq") +:
        col("ver").as("vseq") +: cfg.merge.map(m => col(m.field)) ++:
        auxTs.map(t => col(t._2))): _*)
    val newGolden = recRows.unionByName(gRows)
      .groupBy("entity")
      .agg(max(col("vseq")).as("ver"), cfg.merge.flatMap(mergeAggs): _*)
      .select((col("entity") +: col("ver") +:
        cfg.merge.map(m => col(m.field)) ++: auxTs.map(t => col(t._2))): _*)
    // broadcast assign only while it is broadcast-SIZED: micro-batches
    // (the steady-state discipline) always are, but a corpus-fraction
    // bulk backfill run as one legal batch would otherwise collect the
    // whole assignment through the driver — past the gate, fall back to
    // the planner's join choice (n is already known driver-side)
    val assignDoc = assign.withColumnRenamed("id", "doc_id")
    val outRows = batchP.join(
      if (n <= 4000000L) broadcast(assignDoc) else assignDoc, Seq("doc_id"))
    val memberRows = touched.select((col("id") +: col("block") +:
      fields.map(col) :+ col("entity")): _*)
    // refreshByPath ordering: only newGolden's lineage still READS a
    // store being appended (entities/, via goldenAll) — it alone needs
    // the materialize + lineage-cut before the first write. outRows and
    // memberRows derive from batch ⋈ assign, and assign's lineage is
    // b0 ⋈ a driver-local frame since the driver-side forest resolve
    // (round 13) — no store read anywhere, so they write directly.
    // Appends still run out → entities → members (the store every later
    // batch probes grows last).
    val holds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cutM(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); holds += p
      spark.createDataFrame(p.rdd, p.schema)
    }
    val goldC = cutM(newGolden)
    // refreshByPath guard, made LOUD (the round-7/9 failure mode is a
    // silently empty append): frames written after the first store
    // append must not read any store dir in their lineage. assign is
    // cached-batch ⋈ driver-local today; this require keeps a future
    // edit from reintroducing the silent re-execution.
    require(!readsUnder(outRows, storePath) && !readsUnder(memberRows, storePath),
      "post-append frames must not read the store (refreshByPath would " +
        "re-execute them against the grown store with no error anywhere)")
    outRows.write.mode("append").parquet(outPath)
    goldC.withColumn("eb", ebCol(ebN))
      // one file per partition, not per task; partition count capped by
      // the known geometry (≤ ebN reducers are ever non-empty)
      .transform(graft.core.Stores.writeLayout(_, ebN, col("eb")))
      .write.mode("append").partitionBy("eb").parquet(s"$storePath/entities")
    memberRows.withColumn("mb", mbCol(mbN))
      .transform(graft.core.Stores.writeLayout(_, mbN, col("mb")))
      .write.mode("append").partitionBy("mb").parquet(s"$storePath/members")
    graft.core.Stores.stampIfAbsent(spark, s"$storePath/entities", ebN)
    graft.core.Stores.stampIfAbsent(spark, s"$storePath/members", mbN)
    (holds ++ Seq(assign, batchP)).foreach(_.unpersist(blocking = false))
    n
  }

  // every parquet root the frame's analyzed plan reads, tested against
  // a directory prefix — the loud form of the refreshByPath lineage
  // rule (no Spark job; a driver-side plan walk)
  private def readsUnder(df: DataFrame, dir: String): Boolean = {
    val want = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq.empty[String]
        }
    }.flatten.exists(p => p == want || p.startsWith(want + "/"))
  }

  /** Start the streaming loop: `records` is an unbounded stream
    * carrying doc_id + block + the model's fields.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(records: DataFrame, storePath: String, outPath: String,
            checkpoint: String,
            trigger: Trigger = Continuous): StreamingQuery =
    run(records, checkpoint, trigger) { (batch, _) =>
      processBatch(batch, storePath, outPath)
    }

  /** Offline compaction of the store: replayed member rows are
    * bit-identical (dedup on id); entities/ keeps one row per
    * (entity, ver). The output compacts with `compactKept`. */
  def compactStore(spark: SparkSession, storePath: String): Long =
    graft.core.Stores.rewriteDeduped(spark, s"$storePath/members", Seq("id"),
      partitionCols = Seq("mb")) +
      graft.core.Stores.rewriteDeduped(spark, s"$storePath/entities",
        Seq("entity", "ver"), partitionCols = Seq("eb"))

  /** Deeper reclaim for entities/: keep only each entity's LATEST
    * version (the only row `goldenLatest` ever reads) — an entity
    * touched by thousands of batches otherwise keeps every
    * intermediate merge. History is dropped by design; run
    * `compactStore` instead to keep it. Gate it on mean version-chain
    * depth (entities/ rows per distinct entity) above ~4: `goldenLatest`
    * read cost grows linearly with that depth (SCALE.md round 12). The
    * depth check scans all of entities/ plus a distinct count, so run it
    * at a batch-id cadence (e.g. every 16th batch), never per batch. */
  def compactGolden(spark: SparkSession, storePath: String): Long =
    graft.core.Stores.rewriteLatest(spark, s"$storePath/entities",
      Seq("entity"), "ver", partitionCols = Seq("eb"))

  /** Re-bucket members/ and entities/ to `nBuckets`: every partition
    * column is recomputed on probe and append from the geometry in
    * force, so results are bit-equal across a rebalance; only the
    * probes' read volume changes. Each dir re-buckets on its own —
    * staged, count-verified and crash-safe: `Stores.rebucket` (its
    * scaladoc walks the crash windows, the one between the two dirs
    * included) — and meta last, which only refreshes the bootstrap
    * copy. Run offline, never concurrently with ingest. Returns the
    * rows of both dirs. */
  def linkRebalance(spark: SparkSession, path: String,
                    nBuckets: Int): Long = {
    val cfg = readCfg(spark, path)
    require(nBuckets >= 1, "nBuckets must be >= 1")
    import spark.implicits._
    val n = graft.core.Stores.rebucket(spark, s"$path/members", "mb",
        mbCol(nBuckets), nBuckets) +
      graft.core.Stores.rebucket(spark, s"$path/entities", "eb",
        ebCol(nBuckets), nBuckets)
    Seq((cfg.threshold, nBuckets)).toDF("threshold", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    n
  }

  /** Growth-gated geometry maintenance, sized by members/:
    * `Stores.maintain` with `linkRebalance` — the growth rule, its
    * O(store) check and the cadence to run it at are documented there.
    * Returns the geometry in force after the call. */
  def linkMaintain(spark: SparkSession, path: String,
                   targetRowsPerBucket: Long = 1000000L,
                   growFactor: Int = 4): Int = {
    val cfg = readCfg(spark, path)
    val members = s"$path/members"
    graft.core.Stores.maintain(spark, members,
      graft.core.Stores.geometry(spark, members, cfg.nBuckets),
      targetRowsPerBucket, growFactor)(linkRebalance(spark, path, _))
  }
}
