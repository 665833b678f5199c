package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape assertions for the properties that matter at 100 TB:
  * column pruning reaching the parquet scan, single-scan rewrites
  * staying single-scan, and dimension joins staying broadcast. Uses the
  * statically-planned physical plan (pre-AQE) so the asserted shape is
  * the planner's decision, not a runtime re-plan. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): SparkPlan =
    SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectWithSubqueries { case s: FileSourceScanExec => s }

  /** A store probe's planned shape: at least one broadcast join, no
    * store scan on any broadcast build side, and no shuffle join. */
  private def assertBatchBroadcast(p: SparkPlan): Unit = {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val joins = p.collectWithSubqueries { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "store probe lost its broadcast join")
    joins.foreach { j =>
      val build = if (j.buildSide == BuildLeft) j.left else j.right
      assert(scans(build).isEmpty, "a store scan sits on the broadcast build side")
    }
    assert(p.collectWithSubqueries { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collectWithSubqueries { case j: ShuffledHashJoinExec => j }.isEmpty,
      "the store probe plans a shuffle join")
  }

  test("q01: scan reads only the five needed lineitem columns") {
    val ss = scans(plan("q01_pricing_summary"))
    assert(ss.nonEmpty)
    assert(ss.head.requiredSchema.fieldNames.toSet ==
      Set("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"))
  }

  test("q02: grouping sets is one scan, pruned to l_shipdate + dims") {
    val ss = scans(plan("q02_grouping_sets"))
    assert(ss.length == 1)
    assert(ss.head.requiredSchema.fieldNames.toSet ==
      Set("l_shipdate", "l_returnflag", "l_linestatus"))
  }

  test("q24 and q20: single-scan rewrites stay single-scan") {
    assert(scans(plan("q24_sentinel_union")).length == 1)
    assert(scans(plan("q20_upsert_priority")).length == 1)
  }

  test("q19 and q67: dimension joins broadcast") {
    val p19 = plan("q19_dim_broadcast")
    assert(p19.collectWithSubqueries { case b: BroadcastHashJoinExec => b }.length >= 2)
    val p67 = plan("q67_state_topn_window")
    assert(p67.collectWithSubqueries { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("q35 exact dedup: filter pushdown is absent (full scan by design), one scan only") {
    assert(scans(plan("q35_exact_dedup")).length == 1)
  }

  test("q121 soft dedup: one scan, no join, hash+sort shuffles only") {
    val p = plan("q121_soft_dedup")
    assert(scans(p).length == 1) // window form, not groupBy-count + join-back
    assert(p.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty)
    val exchanges = p.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // one shuffle on the content hash + the final deterministic sort
    assert(exchanges.length <= 2, p.toString.take(500))
  }

  test("q74: url-key merge is one scan and one aggregate shuffle") {
    val p = plan("q74_url_key_merge")
    assert(scans(p).length == 1)
    val exchanges = p.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // one shuffle for the url_key aggregation + the final global sort
    assert(exchanges.length <= 2, p.toString.take(500))
  }

  test("q71/q66: synthesized audits stay single-scan per branch") {
    assert(scans(plan("q71_rowcol_counts")).length == 1)
    // q66 presence = one documents scan + the broadcast total subplan
    assert(scans(plan("q66_schema_audit")).length <= 2)
  }

  test("q30: doc_id predicate reaches the scan as a pushed filter") {
    val ss = scans(plan("q30_content_hashes"))
    assert(ss.nonEmpty)
    assert(ss.head.metadata.get("PushedFilters").exists(_.contains("LessThan(doc_id")))
  }

  test("q88: gopher metrics are one pruned scan + one aggregate shuffle") {
    val p = plan("q88_gopher_quality")
    val ss = scans(p)
    assert(ss.length == 1)
    assert(ss.head.requiredSchema.fieldNames.toSet == Set("doc_id", "text"))
    val exchanges = p.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // the token explode feeds the per-doc hash aggregate directly: one
    // shuffle for the aggregation + the final deterministic sort
    assert(exchanges.length <= 2, p.toString.take(500))
  }

  test("q89: both consumers of the (doc,shingle) frame read the cache") {
    // dupNgramFraction persists + materializes the shingle counts, so
    // the doc-frequency agg and the join-back must BOTH be cache reads —
    // zero additional parquet scans (the corpus is scanned exactly once,
    // inside the cached build)
    val p = plan("q89_dup_ngrams")
    val mem = p.collectWithSubqueries {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(mem.length == 2, s"expected 2 cache reads, got ${mem.length}")
    assert(scans(p).isEmpty, "shingle pipeline leaked a second corpus scan")
  }

  test("exact-substr cut joins never plan as static broadcasts") {
    // Both the duplicated-gram join-back and the coverage left join
    // scale with corpus dup density, and both sit behind window/agg/
    // sequence-explode boundaries that blind static size estimation —
    // a static BROADCAST would collect a corpus-sized frame through
    // the driver on a dup-heavy corpus. shuffle_hash must hold (AQE
    // may still broadcast from exact runtime sizes).
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for ((name, build) <- Seq[(String, () => graft.core.Scoped[org.apache.spark.sql.DataFrame])](
        "exactSubstrCut" -> (() => Dedup.exactSubstrCut(docs, 5)),
        "boilerplateCut" -> (() => Dedup.boilerplateCut(docs, 5, 25)))) {
      build().use { df =>
        // boilerplateCut's one INTENDED broadcast is the topN-row
        // heavy-hitter list (inner join); everything density-scaled —
        // the dup-gram join-back and the coverage left join — must
        // shuffle. exactSubstrCut has no sanctioned broadcast at all.
        val broadcasts = df.queryExecution.sparkPlan.collectWithSubqueries {
          case b: BroadcastHashJoinExec
            if name == "exactSubstrCut" ||
              b.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter => b
        }
        assert(broadcasts.isEmpty,
          s"$name statically broadcasts a density-scaled join side")
      }
    }
  }

  test("q97 incremental dedup: store-side band join never statically broadcasts band rows") {
    // sketchDropIds joins the batch's exploded band rows against the
    // store's on (band, bkey). Both sides are ×bands posexplodes of
    // signature frames — the same blinded-estimate trap as the
    // minhash self-join: a static BROADCAST would move the whole
    // band-row table through the driver at corpus scale. The audit
    // reads the unpersisted plan (`sketchDrops` persists it, and a
    // cached plan is one InMemoryTableScan with no joins to audit).
    // The 66-slot verify joins that follow (keyed on a/b, one
    // signature row per candidate end) may broadcast.
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val storeSigs = Dedup.minhashSignatures(docs.where(col("doc_id") < 250))
    val newSigs = Dedup.minhashSignatures(docs.where(col("doc_id") >= 250))
      .persist()
    try {
      val drops = Dedup.sketchDropIds(newSigs, storeSigs, 0.5)
      val bandJoins = drops.queryExecution.sparkPlan.collectWithSubqueries {
        case b: BroadcastHashJoinExec
          if (b.leftKeys ++ b.rightKeys).flatMap(_.references.map(_.name))
            .exists(Set("band", "bkey")) => b
      }
      assert(bandJoins.isEmpty,
        "incremental-dedup band join statically broadcasts a band-row side")
    } finally newSigs.unpersist(blocking = false)
  }

  test("ingest content gate: the store probe broadcasts the batch band rows, the store never shuffles") {
    // the signature store is the corpus-sized side: its band rows are
    // derived in the scan stage and stream into the join; the batch's
    // (band, bkey, b) rows, each carrying its doc's sketch, are the
    // explicitly broadcast build side
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val store = java.nio.file.Files.createTempDirectory("audit_sigs").toString
    Dedup.signatureSave(docs.where(col("doc_id") < 250), store)
    val probe = Seq((0, 7L, 9001L)).toDF("band", "bkey", "b")
      .select(col("band") +: col("bkey") +: col("b") +:
        (0 until Dedup.NumPerms).map(i => col("b").as(s"bh$i")): _*)
    val p = graft.streaming.IngestDedup.storePlan(spark.read.parquet(store)
      .select((0 until Dedup.NumPerms).map(i => col(s"h$i")): _*), probe, 0.5)
      .queryExecution.sparkPlan
    assert(scans(p).nonEmpty)
    assertBatchBroadcast(p)
  }

  test("q125 CMS hitters: the bounded sketch side rides a broadcast join") {
    // The whole point of the sketch is that it's depth×width rows no
    // matter the corpus — if the candidate-estimate join ever shuffles
    // the candidate grams against it instead of broadcasting the
    // sketch, the bounded-memory claim is gone. (q125 itself returns
    // an eagerly-cached frame, so pin the underlying cmsTopK shape.)
    // width 4096 ≠ any other test's geometry, so the CacheManager can
    // never swap this subplan for a leftover cached result from another
    // suite (which would erase the join from the plan under audit)
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = Dedup.cmsTopK(docs, Dedup.cmsSketch(docs, width = 4096),
      width = 4096, sampleMod = 8)
    val broadcasts = q.queryExecution.sparkPlan.collectWithSubqueries {
      case b: BroadcastHashJoinExec => b
    }
    assert(broadcasts.nonEmpty, "CMS estimate join lost its broadcast")
  }

  test("q103 DSIR: model joins stay broadcast against the per-doc feature frame") {
    // The importance-weight joins touch every per-doc feature row; the
    // MODEL side (vocabulary-bounded by design, hashBuckets-bounded in
    // hashed mode) must ride a broadcast — a shuffle here would move
    // the corpus-sized feature frame twice.
    val p = plan("q103_dsir_select")
    val broadcasts = p.collectWithSubqueries { case b: BroadcastHashJoinExec => b }
    assert(broadcasts.length >= 2,
      s"expected the tgt+raw model joins broadcast, got ${broadcasts.length}")
  }

  test("minhash/simhash band self-joins never plan as static broadcasts") {
    // The ×bands posexplode is invisible to static size estimation: the
    // planner sees the small signature table and would BROADCAST tens of
    // millions of band rows through the driver (hit maxResultSize at
    // 500 k docs — SCALE.md round 3). The shuffle_hash hint must hold;
    // AQE may still broadcast at runtime from exact sizes.
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (mhPlan, mhSigs) = Dedup.minhashCandidatePlan(docs)
    val (shPlan, shSims) = Dedup.simhashCandidatePlan(docs, Long.MaxValue, 6, 3)
    try
      for ((name, df) <- Seq("minhash" -> mhPlan, "simhash" -> shPlan)) {
        val joins = df.queryExecution.sparkPlan.collectWithSubqueries {
          case b: BroadcastHashJoinExec => b
        }
        assert(joins.isEmpty, s"$name band join statically broadcasts a band-row side")
      }
    finally { mhSigs.unpersist(); shSims.unpersist() }
  }

  test("q124/q126 scorer eval: no single-partition window ever sees doc rows") {
    // The round-6 watch item, made structural: every empty-partition
    // window in the scorer-eval plans must run over the aggregated
    // DISTINCT-SCORE frame (no doc_id in its output) — the per-row
    // work (R-precision boundary, calibration rank) is resolved by
    // windows PARTITIONED by score. A global window whose output
    // carries doc_id would be a corpus-sized single-partition sort.
    import graft.operators.TrainingData
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scored = docs.select(col("doc_id"),
      (col("n_chars") % 7).cast("double").as("score"))
    val labels = docs.select(col("doc_id"),
      (col("doc_id") % 2).cast("long").as("label"))
    TrainingData.scoreAuc(scored, labels).use { auc =>
    TrainingData.scoreCalibration(scored, labels, 10).use { cal =>
      for ((name, df) <- Seq("scoreAuc" -> auc, "scoreCalibration" -> cal)) {
        val ws = df.queryExecution.sparkPlan.collectWithSubqueries {
          case w: WindowExec => w
        }
        assert(ws.nonEmpty, s"$name lost its windows entirely")
        ws.filter(_.partitionSpec.isEmpty).foreach { w =>
          assert(!w.output.map(_.name).contains("doc_id"),
            s"$name has a single-partition window over doc rows:\n" +
              w.toString.take(400))
        }
        // the per-row half must exist and be keyed by score
        assert(ws.exists(_.partitionSpec.nonEmpty),
          s"$name lost its score-partitioned per-row window")
      }
    }}
  }

  test("q134 kNN join: probe is a pure projection; candidates are a list_id equi-join, never cartesian") {
    // The N·nProbe·clusterRows bound rests on two plan facts: probe
    // selection is the NearestLists codegen expression (no joined
    // N×nList intermediate at all — the round-7 fix for the 19×
    // sf1→sf10 superlinearity), and candidate generation is an
    // equi-join on list_id. A CartesianProductExec anywhere means the
    // N² pair explosion the operator exists to avoid; a
    // BroadcastNestedLoopJoin means the probe regressed to the
    // crossJoin+window form.
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.knnJoin(emb, 5).use { res =>
      val p = res.queryExecution.sparkPlan
      assert(p.collectWithSubqueries {
        case c: CartesianProductExec => c
      }.isEmpty, "kNN join plans a cartesian product")
      val bnlj = p.collectWithSubqueries { case b: BroadcastNestedLoopJoinExec => b }
      assert(bnlj.isEmpty,
        s"probe selection regressed to a joined intermediate: ${bnlj.length} BNLJ nodes")
      val equi = p.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.HashJoin
          if j.leftKeys.exists(_.references.exists(_.name == "list_id")) => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "list_id")) => j
      }
      assert(equi.nonEmpty, "candidate generation lost its list_id equi-join")
      // fan-out join: lists under the broadcast threshold must still
      // shuffle, or the post-join dot work inherits the probe side's
      // scan partitioning (measured 2.5× on the PQ rung)
      assert(!equi.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "corpus-side candidate join statically broadcasts the list frame")
    }
  }

  test("q152 PQ kNN join: codes decode in the scan pipeline, no float corpus before refine") {
    // The memory-wall claim: the long-lived lists hold m PQ codes, and
    // the float corpus appears ONLY in the bounded post-pool refine
    // join. Pinned facts: (1) pq_decode runs inline (a projection in
    // the candidate pipeline — present in the plan, so the store is
    // codes, not reconstructions); (2) candidates come from a list_id
    // equi-join, never a cartesian/BNLJ; (3) exactly two joins total —
    // probe×coded on list_id and the refine join on vid. A third join
    // would mean the candidate path started consuming a float frame.
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.knnJoinPq(emb, 5, m = 8).use { res =>
      val p = res.queryExecution.sparkPlan
      assert(p.collectWithSubqueries {
        case c: CartesianProductExec => c
      }.isEmpty, "PQ kNN join plans a cartesian product")
      assert(p.collectWithSubqueries {
        case b: BroadcastNestedLoopJoinExec => b
      }.isEmpty, "PQ kNN probe regressed to a joined intermediate")
      val joins = p.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.length == 2,
        s"expected probe equi-join + refine join only, got ${joins.length}")
      assert(joins.exists(_.leftKeys.exists(_.references.exists(_.name == "list_id"))),
        "candidate generation lost its list_id equi-join")
      // the packed lists are m B/vector — small enough that the static
      // planner broadcasts them, which strands the N·nProbe·clusterRows
      // decode+dot work on the probe side's scan partitions (measured
      // 2.5× at 200 k vectors): the list_id join must stay shuffled
      assert(!joins.exists(j =>
        j.isInstanceOf[BroadcastHashJoinExec] &&
          j.leftKeys.exists(_.references.exists(_.name == "list_id"))),
        "packed candidate join statically broadcasts — post-join work loses shuffle parallelism")
      assert(p.toString.contains("pq_decode"),
        "candidate scoring no longer decodes codes inline (pq_decode missing)")
    }
  }

  test("q140/q154 SQ8 and OPQ kNN joins: candidate join never statically broadcasts, no cartesian") {
    // The SQ8 and OPQ rungs share q134/q152's planner cliff: quantized
    // list frames are SMALLER (int8 / m-byte codes), so they dip under
    // the static broadcast threshold even earlier (~110 k vectors SQ8,
    // ~19 k packed PQ), stranding the post-join ADC work on the probe
    // side's scan partitions. Same pins as the float/PQ rungs: list_id
    // equi-join present, shuffled, and no N² shapes anywhere.
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val shapes = Seq(
      "q140_sq8" -> Similarity.knnJoin(emb, 5, codec = Similarity.ListCodec.Sq8),
      "q154_opq" -> Similarity.knnJoinPq(emb, 5, m = 8, opq = true))
    for ((name, scoped) <- shapes) scoped.use { res =>
      val p = res.queryExecution.sparkPlan
      assert(p.collectWithSubqueries {
        case c: CartesianProductExec => c
      }.isEmpty, s"$name plans a cartesian product")
      assert(p.collectWithSubqueries {
        case b: BroadcastNestedLoopJoinExec => b
      }.isEmpty, s"$name probe regressed to a joined intermediate")
      val listJoins = p.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "list_id")) => j
      }
      assert(listJoins.nonEmpty, s"$name lost its list_id equi-join")
      assert(!listJoins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name candidate join statically broadcasts — post-join ADC loses shuffle parallelism")
    }
  }

  test("q146 theta overlap: no join keyed by the gram column anywhere in the plan") {
    // The sketch form exists to REPLACE the q111 gram equi-join with
    // per-source sketch algebra: the only join allowed is the S×S
    // broadcast cross of the 1-row-per-source sketch frame. A join
    // keyed on `sh` would mean the gram shuffle crept back in.
    import graft.operators.TrainingData
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = TrainingData.sourceOverlapSketch(docs, 5)
      .queryExecution.sparkPlan
    val gramJoins = p.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "sh")) => j
    }
    assert(gramJoins.isEmpty, "theta overlap plans a gram-keyed join")
    val joins = p.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.length == 1, s"expected only the sketch cross, got ${joins.length}")
  }

  test("q135 cross-corpus near-dups: band join never statically broadcasts band rows") {
    // Same blinded-estimate trap as the q36/q97 pins: both join sides
    // are ×bands posexplodes of small persisted signature frames, so a
    // static BROADCAST would collect the full band-row table through
    // the driver at corpus scale. The slot-agreement joins against the
    // bounded signature frames MAY broadcast — only (band, bkey) keyed
    // joins are banned.
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.crossNearDups(
      docs.where(col("doc_id") >= 40), docs.where(col("doc_id") < 40), 0.5).use { pairs =>
      val bandBroadcasts = pairs.queryExecution.sparkPlan.collectWithSubqueries {
        case b: BroadcastHashJoinExec
          if b.leftKeys.exists(_.references.exists(_.name == "band")) => b
      }
      assert(bandBroadcasts.isEmpty,
        "cross-corpus band join statically broadcasts a band-row side")
    }
  }

  test("hashEmbed: one scan, one doc_id-keyed aggregation shuffle, no join, no window") {
    // the text→vector bridge's scale claim: pivot over the KNOWN
    // 0..dim-1 domain is a single aggregate — no domain-discovery job,
    // no join-back, no per-doc window
    val df = graft.operators.TextAnalysis.hashEmbed(
      spark.read.parquet(s"$dir/documents.parquet"), dim = 16)
    val p = df.queryExecution.sparkPlan
    assert(scans(p).length == 1)
    assert(p.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty)
    assert(p.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
    val exchanges = p.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // ≤ 1: the aggregation's only shuffle — and on a one-partition
    // input (sf0.001 is one file) the planner elides even that
    assert(exchanges.length <= 1, p.toString.take(500))
  }

  test("q164 token classifier: the model joins as a BROADCAST; no window anywhere") {
    // the scale shape the scaladoc claims: per-(doc,token) counts
    // reduce map-side, the vocabulary-sized model broadcasts, and the
    // scored corpus never sees a window or a shuffled join
    val p = plan("q164_nb_score")
    val bcast = p.collectWithSubqueries {
      case b: BroadcastHashJoinExec
        if b.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter => b
    }
    assert(bcast.nonEmpty, "model join must be a broadcast left-outer")
    assert(p.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
    assert(p.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "scored corpus must never shuffle through a join")
  }

  test("lexSearch: query terms prune the postings read to their bucket PARTITIONS") {
    // the store's whole point: a 3-term search lists and reads ≤ 3 of
    // the nBuckets partition directories, never the corpus
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val store = java.nio.file.Files.createTempDirectory("audit_lex").toString
    graft.operators.Lexical.lexSave(spark, docs, store, nBuckets = 16)
    val slice = graft.operators.Lexical.lexSlice(
      spark, store, Seq("spark", "merge", "dup"))
    val ss = scans(slice.queryExecution.sparkPlan)
    assert(ss.length == 1)
    assert(ss.head.partitionFilters.nonEmpty,
      "bucket predicate must be a partition filter, not a data filter")
    assert(ss.head.selectedPartitions.partitionCount <= 3,
      s"read ${ss.head.selectedPartitions.partitionCount} bucket partitions for 3 terms")
    // and the term predicate still pushes into the parquet row groups
    assert(ss.head.metadata.get("PushedFilters").exists(_.contains("In(w")))
    // the pruning survives a REBALANCE: probes recompute buckets from
    // the new meta, and the finer geometry reads no more partitions
    graft.operators.Lexical.lexRebalance(spark, store, 61)
    val slice2 = graft.operators.Lexical.lexSlice(
      spark, store, Seq("spark", "merge", "dup"))
    val ss2 = scans(slice2.queryExecution.sparkPlan)
    assert(ss2.head.partitionFilters.nonEmpty)
    assert(ss2.head.selectedPartitions.partitionCount <= 3)
    assert(ss2.head.metadata.get("PushedFilters").exists(_.contains("In(w")))
  }

  test("q197/q198 point probes: the pruned read touches exactly the probe's buckets") {
    import org.apache.spark.sql.functions.{col, length, lit, pmod, xxhash64}
    import spark.implicits._
    // fuzzy: a 3-key point probe against a fine 251-bucket store must
    // scan exactly (probe buckets ∩ existing dirs) partitions — the
    // named-dir read path, not its full-scan degradation
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val store = java.nio.file.Files.createTempDirectory("audit_fzpt").toString
    graft.streaming.IngestFuzzy.fuzzySave(spark,
      docs.selectExpr("doc_id AS id", "substring(text, 1, 24) AS s")
        .where("id < 250"), store, maxDist = 3, nBuckets = 251)
    val probe = Seq((9001L, "planted unique probe key a"),
        (9002L, "another planted probe key b"),
        (9003L, "third planted point probe c")).toDF("id", "s")
      .withColumn("len", length(col("s")))
    val want = graft.operators.Dedup.edProbeSegs(probe, 3, 3, twoSided = true)
      .select(pmod(xxhash64(col("lt"), col("i"), col("seg")), lit(251L))
        .cast("int").as("sb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/segs"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("sb="))
      .map(_.getPath.getName.stripPrefix("sb=").toInt).toSet
    import graft.streaming.IngestFuzzy
    val fzPlan = IngestFuzzy.storeProbe(spark, store, probe,
      IngestFuzzy.collectProbes(probe, 3, 3, 251).buckets, 3, 3, 251).queryExecution.sparkPlan
    def under(sub: String) = scans(fzPlan)
      .filter(_.metadata.get("Location").exists(_.contains(s"$store/$sub")))
    val ss = under("segs")
    assert(ss.length == 1)
    val scanned = ss.head.selectedPartitions.partitionCount
    assert(scanned == (want & existing).size,
      s"scanned $scanned partitions; probe covers ${(want & existing).size}")
    assert(scanned < existing.size,
      "point probe failed to prune (scanned every existing bucket)")
    // the short-key side reads only keys/'s sh=1 partition
    val ks = under("keys")
    assert(ks.length == 1 && ks.head.partitionFilters.nonEmpty &&
      ks.head.selectedPartitions.partitionCount <= 1)
    // the batch rides the broadcast build side; the store never shuffles
    assertBatchBroadcast(fzPlan)
    // lexical: one term → one bucket partition on a 251-bucket store
    val lstore = java.nio.file.Files.createTempDirectory("audit_lexpt").toString
    graft.operators.Lexical.lexSave(spark, docs, lstore, nBuckets = 8)
    graft.operators.Lexical.lexRebalance(spark, lstore, 251)
    val slice = graft.operators.Lexical.lexSlice(spark, lstore, Seq("dup"))
    val ls = scans(slice.queryExecution.sparkPlan)
    assert(ls.length == 1 && ls.head.selectedPartitions.partitionCount == 1,
      "a one-term point search must read exactly one bucket partition")
  }

  test("q175 SNM: the only single-partition window is the nParts-row offset frame") {
    // globalRank's contract: ranks come from a per-PARTITION window
    // (pid-keyed, corpus-parallel) plus an offset prefix sum whose
    // single-partition window sees only the nParts-row count frame.
    // A global window whose output carries the record id would be the
    // corpus-sized single-partition sort the two-level pattern exists
    // to avoid.
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q175_snm_pairs")
    val ws = p.collectWithSubqueries { case w: WindowExec => w }
    assert(ws.exists(_.partitionSpec.nonEmpty), "lost the pid-keyed rank window")
    ws.filter(_.partitionSpec.isEmpty).foreach { w =>
      val out = w.output.map(_.name)
      assert(!out.contains("id") && !out.contains("skey"),
        s"single-partition window over record rows:\n${w.toString.take(400)}")
    }
    assert(p.collectWithSubqueries {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "SNM plans a cartesian product")
  }

  test("q169 store probe: seg candidates are an equi-join that never statically broadcasts") {
    // Both sides of the (lt, i, seg) join are explode-blinded (the
    // probe is a ~(2d+1)²·(d+1)-fold explode of the batch, the index a
    // (d+1)-fold explode of store keys): static size estimates stay at
    // the pre-explode size, so an unhinted plan would BROADCAST tens of
    // millions of seg rows through the driver at corpus scale (the
    // round-3 band-join trap). shuffle_hash must hold pre-AQE; AQE may
    // still broadcast from exact runtime sizes when a batch is small.
    val p = plan("q169_fuzzy_store_pairs")
    try {
      val segJoins = p.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.HashJoin
          if j.leftKeys.exists(_.references.exists(_.name == "seg")) => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "seg")) => j
      }
      assert(segJoins.nonEmpty, "probe lost its (lt, i, seg) equi-join")
      assert(!segJoins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "store-probe seg join statically broadcasts an explode-blinded side")
      assert(p.collectWithSubqueries {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, "store probe plans a cartesian product")
    } finally {
      // edBase persists its slices; release so no other suite's plan
      // audit sees an InMemoryTableScan swap (round-6 CacheManager rule)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }
}
