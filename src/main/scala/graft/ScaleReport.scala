package graft


/** Scale-validation harness for the dedup/ANN family: runs each family
  * operator over a (generated) SF dir, timing it and logging the
  * LSH-efficiency ratios the scaladoc claims — candidate-pair volume vs
  * verified-pair volume for the MinHash banding (q36 family) and the
  * SimHash block-combination banding (q65 family, run UNBOUNDED here,
  * unlike the driver query's maxId slice). One JSON line per metric.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.ScaleReport <sfDir>
  */
object ScaleReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = graft.core.Session.builder(cpus)
      // plan STRINGS are re-rendered per job for the SQL-start event;
      // deep-union campaign plans made that render the bottleneck
      // (round 10) — cap it, display-only, never affects results
      .config("spark.sql.maxPlanStringLength", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.core.Tables
    import graft.operators.{Dedup, Similarity}

    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // optional section allowlist (minhash,simhash,cc,ann,knn,text,curation,cms,hll,
    // semdedup,ivfio,exactsubstr,dsir,lm,bloomdecon,sq8,ingest,pq,pairmine,
    // ivfbuild,pairmaint,sqrtn,editjoin,lex,lexgeo,fuzzygate,fuzzyseed,fpseed,fuzzysplit,
    // pipeline,linkskew,snm,linkcc,ingestlink,ingestlinkbig,fuzzybackfill,
    // linkskewbig,linkgolden) for
    // isolating one family — host-level stall noise makes whole-report
    // timings incomparable across runs (CLAUDE.md round 4)
    val sections = sys.env.get("SCALE_SECTIONS")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    def section(name: String): Boolean = sections.isEmpty || sections(name)
    def timed(name: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      val persisted = spark.sparkContext.getPersistentRDDs.size
      release()
      println(f"""{"op":"$name","rows":$rows,"sec":$sec%.2f,"persisted_before_release":$persisted}""")
      rows
    }

    // extreme-SF dirs may carry only the vector tables (GenData's
    // table filter) — sections that need docs just aren't requested
    val docsOpt = scala.util.Try(Tables.documents(spark, sfDir)).toOption
    lazy val docs = docsOpt.get
    val emb = Tables.embeddings(spark, sfDir)
    val nDocs = docsOpt.map(_.count()).getOrElse(0L); val nVecs = emb.count()
    println(s"""{"op":"corpus","docs":$nDocs,"vecs":$nVecs,"dir":"$sfDir"}""")
    // spill-aware partitioning (the CLAUDE.md scale rule): band-join
    // build maps must fit the per-task heap share, and band rows grow
    // ~84× the corpus — size shuffle partitions with the corpus instead
    // of pinning them to the thread count. At sf10 this is the
    // difference between 1.3 M-row and ~150 k-row shuffled-hash build
    // maps (32 concurrent tasks share ONE local-mode heap; a real
    // cluster sets this via spark.sql.shuffle.partitions the same way).
    // vectors-only dirs (extreme-SF ANN campaigns) must size by the
    // VECTOR count: 128-float payloads are ~30× a doc-key row, so a
    // nDocs-only sizing would hand a 20 M-vector corpus 32 partitions
    // of ~320 MB build-map each
    val shufflePartitions = math.max(cpus,
      math.max(nDocs / 4000, nVecs / 16000).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    println(s"""{"op":"conf","shuffle_partitions":$shufflePartitions}""")

    // MinHash-LSH family: candidate volume vs verified volume
    if (section("minhash")) {
      val mhCand = timed("minhash_candidates") {
        Dedup.minhashCandidatePairs(docs).use(_.count())
      }
      val mhVerified = timed("minhash_pairs_full") {
        Dedup.minhashPairs(docs, 0.5).use(_.count())
      }
      println(s"""{"op":"minhash_ratio","candidates":$mhCand,"verified":$mhVerified}""")
    }

    // SimHash block-combination banding, UNBOUNDED corpus (the driver
    // query caps maxId at 2000; the scale question is full-corpus
    // candidate volume). Measure both key widths: B=3 (84 tables,
    // ~20-bit keys) vs B=4 (210 tables, ~24-bit keys).
    if (section("simhash")) {
      val shCand3 = timed("simhash_candidates_b3") {
        Dedup.simhashCandidatePairs(docs, Long.MaxValue, 6, blockChoose = 3).use(_.count())
      }
      val shCand4 = timed("simhash_candidates_b4") {
        Dedup.simhashCandidatePairs(docs, Long.MaxValue, 6, blockChoose = 4).use(_.count())
      }
      val shVerified = timed("simhash_pairs_full_b4") {
        Dedup.simhashPairs(docs, Long.MaxValue, 6, blockChoose = 4).use(_.count())
      }
      println(s"""{"op":"simhash_ratio","candidates_b3":$shCand3,"candidates_b4":$shCand4,"verified":$shVerified}""")
    }

    if (section("cc")) {
      timed("near_dup_components_full") {
        Dedup.minhashPairs(docs, 0.5)
          .flatMap(p => Dedup.nearDupComponents(docs, p.select("a", "b"), Long.MaxValue))
          .use(_.count())
      }
      timed("dedup_corpus_end_to_end") {
        Dedup.dedupCorpus(docs, 0.5).use(_.count())
      }
    }

    // ANN family over the full embeddings table, with measured recall@10
    // against the brute-force ground truth (the approximate paths must
    // not just run fast — they must FIND the neighbors)
    if (section("ann")) {
    var brute = Set.empty[(Long, Long)]
    timed("cosine_topk_brute") {
      brute = Similarity.cosineTopK(emb, 5, 10)
        .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.size.toLong
    }
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "vid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val annR0 = recall(Similarity.annLshTopK(emb, 5, 10)); release()
    val annR1 = recall(Similarity.annLshTopK(emb, 5, 10, probeRadius = 1)); release()
    val ivfR = recall(Similarity.ivfTopK(emb, 5, 10, 16, 3)); release()
    println(f"""{"op":"ann_recall_at_10","ann_probe0":$annR0%.2f,"ann_probe1":$annR1%.2f,"ivf_nprobe3":$ivfR%.2f}""")
    timed("ann_lsh_topk")(Similarity.annLshTopK(emb, 5, 10).count())
    timed("ann_lsh_topk_probe1")(Similarity.annLshTopK(emb, 5, 10, probeRadius = 1).count())
    timed("ivf_topk")(Similarity.ivfTopK(emb, 5, 10, 16, 3).count())
    timed("lsh_near_dup_pairs")(Similarity.lshNearDupPairs(emb, 0.35).count())
    }

    // Corpus-wide kNN join (q134): N·k neighbor rows, IVF-blocked —
    // the scale question is total pair volume AND whether recall holds
    // as lists multiply with the corpus. Recall measured on a ~100-
    // query hash sample against exact driver-side top-10.
    if (section("knn")) {
      val all = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) e")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val step = math.max(1L, nVecs / 100)
      val qids = all.map(_._1).filter(_ % step == 0).toSet
      def cosL(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { s += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
        s / math.sqrt(na * nb)
      }
      val byId = all.toMap
      val gold = qids.toSeq.sorted.map { q =>
        val qe = byId(q)
        q -> all.iterator.filter(_._1 != q)
          .map { case (v, ve) => (v, cosL(qe, ve)) }.toArray
          .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1).toSet
      }.toMap
      for (nProbe <- Seq(2, 8)) {
        var knnRows: Array[(Long, Long)] = Array.empty
        timed(s"knn_join_full_nprobe$nProbe") {
          knnRows = Similarity.knnJoin(emb, 10, nProbe = nProbe).materialize
            .use(_.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))))
          knnRows.length.toLong
        }
        val got = knnRows.filter(p => qids(p._1)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val rec = qids.toSeq.map { q =>
          gold(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / gold(q).size
        }
        println(f"""{"op":"knn_join_recall_at_10","nprobe":$nProbe,"queries":${qids.size},"recall":${rec.sum / rec.size}%.3f}""")
      }
      // SQ8-list variant: same probe dials, int8 ADC pool + float
      // refine; report recall AND the long-lived list footprint ratio
      // (the memory wall the quantized path exists to move)
      for (nProbe <- Seq(2, 8)) {
        var knnRows: Array[(Long, Long)] = Array.empty
        timed(s"knn_join_sq8_nprobe$nProbe") {
          knnRows = Similarity.knnJoinSq8(emb, 10, nProbe = nProbe).materialize
            .use(_.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))))
          knnRows.length.toLong
        }
        val got = knnRows.filter(p => qids(p._1)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val rec = qids.toSeq.map { q =>
          gold(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / gold(q).size
        }
        println(f"""{"op":"knn_join_sq8_recall_at_10","nprobe":$nProbe,"queries":${qids.size},"recall":${rec.sum / rec.size}%.3f}""")
      }
      // PQ-list variant (deepest rung): m-code lists, PqDecode-scored
      // ADC pool + float refine. PQ is lossier than SQ8, so the scale
      // question is whether the refined recall floor HOLDS as lists
      // multiply with the corpus (the round-6 m-sizing law, now
      // measured on the corpus-side consumer too).
      for (nProbe <- Seq(2, 8)) {
        var knnRows: Array[(Long, Long)] = Array.empty
        timed(s"knn_join_pq_nprobe$nProbe") {
          knnRows = Similarity.knnJoinPq(emb, 10, nProbe = nProbe).materialize
            .use(_.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))))
          knnRows.length.toLong
        }
        val got = knnRows.filter(p => qids(p._1)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val rec = qids.toSeq.map { q =>
          gold(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / gold(q).size
        }
        println(f"""{"op":"knn_join_pq_recall_at_10","nprobe":$nProbe,"queries":${qids.size},"recall":${rec.sum / rec.size}%.3f}""")
      }
      // 1-bit rung: Hamming pool + float refine — the cheapest-storage
      // corpus-side join (round 8)
      for (nProbe <- Seq(2, 8)) {
        var knnRows: Array[(Long, Long)] = Array.empty
        timed(s"knn_join_bin_nprobe$nProbe") {
          knnRows = Similarity.knnJoinBin(emb, 10, nProbe = nProbe).materialize
            .use(_.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))))
          knnRows.length.toLong
        }
        val got = knnRows.filter(p => qids(p._1)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val rec = qids.toSeq.map { q =>
          gold(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / gold(q).size
        }
        println(f"""{"op":"knn_join_bin_recall_at_10","nprobe":$nProbe,"queries":${qids.size},"recall":${rec.sum / rec.size}%.3f}""")
      }
      val nList = math.max(8L, nVecs / 256).toInt
      val fl = Similarity.ivfBuild(emb, nList)
      val flBytes = fl.assigned
        .selectExpr("CAST(sum(size(ce) * 8 + 8 + 8 + 4) AS BIGINT)")
        .head().getLong(0)
      fl.release()
      val q8 = Similarity.ivfBuildSq8(emb, nList)
      val q8Bytes = q8.assigned
        .selectExpr("CAST(sum(octet_length(qc) + 8 + 8 + 4) AS BIGINT)")
        .head().getLong(0)
      q8.release()
      val pqi = Similarity.ivfPqBuild(emb, nList)
      // the raw build store (array<int>, 4 B/code) vs the PqPack'd
      // byte form knnJoinPq actually keeps long-lived (1 B/code)
      val pqBytes = pqi.coded
        .selectExpr("CAST(sum(size(codes) * 4 + 8 + 8 + 4) AS BIGINT)")
        .head().getLong(0)
      val pqPackedBytes = pqi.coded
        .select(graft.functions.Pq.pack(org.apache.spark.sql.functions.col("codes")).as("pc"))
        .selectExpr("CAST(sum(octet_length(pc) + 8 + 8 + 4) AS BIGINT)")
        .head().getLong(0)
      pqi.release()
      // the 1-bit rung closes the ladder: d/8 B of sign code per vector
      val bi = Similarity.binBuild(emb)
      val binBytes = bi.coded
        .selectExpr("CAST(sum(octet_length(bc) + 8) AS BIGINT)")
        .head().getLong(0)
      bi.release()
      println(f"""{"op":"knn_list_bytes","float":$flBytes,"sq8":$q8Bytes,"pq":$pqBytes,"pq_packed":$pqPackedBytes,"bin":$binBytes,"ratio":${flBytes.toDouble / q8Bytes}%.2f,"pq_ratio":${flBytes.toDouble / pqBytes}%.2f,"pq_packed_ratio":${flBytes.toDouble / pqPackedBytes}%.2f,"bin_ratio":${flBytes.toDouble / binBytes}%.2f}""")
    }

    // Text-analysis family over the FULL corpus (the driver queries cap
    // maxId for oracle determinism; scale runs lift the caps) — all
    // linear single-scan shapes, included so the per-SF report covers
    // every LLM-pipeline family, not just dedup/ANN
    import graft.operators.TextAnalysis
    if (section("text")) {
    timed("token_stats")(TextAnalysis.tokenStats(docs).count())
    timed("quality_score_full")(TextAnalysis.qualityScore(docs, Long.MaxValue).count())
    timed("lang_id_full")(TextAnalysis.langId(docs, Long.MaxValue).count())
    timed("winnow_fingerprints_full")(
      TextAnalysis.winnowFingerprints(docs, Long.MaxValue, 8, 4).count())
    // maxDocFreq=100: MOSS common-fingerprint drop — without it the
    // fp join is quadratic in per-fingerprint doc counts (555 s at
    // 50 k same-vocab docs, measured round 3). minIndexSize=5: docs
    // whose index the cap gutted are not comparable (2-element indexes
    // flood containment-1.0 noise on low-diversity corpora).
    timed("winnow_pairs_full")(
      TextAnalysis.winnowPairs(docs, Long.MaxValue, 8, 4, 0.8,
        maxDocFreq = 100, minIndexSize = 5).use(_.count()))
    // text→vector bridge: feature-hash the WHOLE corpus (one pivot-agg
    // shuffle — the claim is linear scan + one shuffle, keyed by
    // doc_id), then serve 5 brute-force queries off the hashed vectors
    val hashed = TextAnalysis.hashEmbed(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("hash_embed_full")(hashed.count())
    timed("text_ann_topk")(Similarity.cosineTopK(hashed, 5, 10).count())
    hashed.unpersist(blocking = false)
    }

    // Training-data curation family (q79–q87) at the full corpus, no
    // caps: splits/redaction/mixture are pure projections (the time IS
    // the scan), repetition/packing/decontamination are the hash-agg /
    // two-level-window shapes whose scaling the scaladoc claims.
    import graft.operators.TrainingData
    import org.apache.spark.sql.functions.{col, regexp_replace}
    if (section("curation")) {
    timed("hash_split")(TrainingData.hashSplit(docs).count())
    timed("quota_sample")(TrainingData.quotaSample(docs, "lang", 1000).count())
    timed("repetition_filter")(TrainingData.repetitionFilter(docs, 0.2).count())
    // the corpus carries no PII — the regex-scan cost is what's measured
    timed("pii_redact")(TrainingData.piiRedact(docs).count())
    timed("token_pack")(TrainingData.tokenPack(docs, 10000L).count())
    val evalCut = nDocs / 100 // 1% eval set, q84 shape
    timed("decontaminate")(TrainingData.decontaminate(
      docs.where(col("doc_id") >= evalCut),
      docs.where(col("doc_id") < evalCut), 3, 2).count())
    // break the single-line corpus into ~6-word '.'-terminated lines so
    // the kept-line reassembly (explode → window → group-by) does real work
    timed("c4_clean")(TrainingData.c4Clean(docs.withColumn("page",
      regexp_replace(col("text"), "(\\S+(?: \\S+){5}) ", "$1.\n"))).count())
    timed("mixture_sample")(TrainingData.mixtureSample(docs,
      (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.75 else 0.25)).toMap).count())
    timed("gopher_quality")(TrainingData.gopherQuality(docs, minWords = 30).count())
    timed("dup_ngram_fraction")(TrainingData.dupNgramFraction(docs, 3, 0.6).use(_.count()))
    timed("chunk_split")(TrainingData.chunkSplit(docs, 40).count())
    timed("tfidf_topk")(
      TextAnalysis.tfidfTopK(docs, Seq("join", "hash", "scan"), 20).count())
    }

    // SemDeDup: cluster-scoped embedding dedup — log the candidate
    // volume (Σ |cluster| choose 2) the clustering actually produced vs
    // the N²/2 it replaced, then time the pair scan. Candidates scale
    // as ≈ nAssign² × N × targetClusterRows / 2, so cluster sizing is
    // THE scale knob: measured at sf1 (20 k vecs), clusterRows=2000
    // left 77.4 M candidates (only 2.6× under all-pairs) where
    // clusterRows=200 is ~10× fewer for the same verified set — both
    // sizings are logged below so the ratio stays pinned empirically.
    if (section("semdedup")) {
      // pair-level counts UNDERSTATE dedup quality across sizings (a
      // duplicate doc is dropped via ANY one of its many pairs), so the
      // drop-sets are compared too — that's the user-visible output of
      // semDedupKeep
      var dropSets = Map.empty[Long, Set[Long]]
      for (clusterRows <- Seq(2000L, 200L)) {
        val nClusters = math.max(8L, nVecs / clusterRows).toInt
        val semIdx = Similarity.ivfBuild(emb, nClusters)
        // threshold −1 passes every intra-cluster pair → the distinct
        // candidate volume the nAssign=2 clustering actually produced
        val semCand = Similarity.semDedupPairs(semIdx, -1.0).count()
        println(s"""{"op":"semdedup_candidates","cluster_rows":$clusterRows,"clusters":$nClusters,"candidates":$semCand,"all_pairs":${nVecs * (nVecs - 1) / 2}}""")
        val semVerified = timed(s"semdedup_pairs_k$nClusters") {
          Similarity.semDedupPairs(semIdx, 0.4).count()
        }
        dropSets += clusterRows -> Similarity.semDedupPairs(semIdx, 0.4)
          .select("b").distinct().collect().map(_.getLong(0)).toSet
        semIdx.release()
        println(s"""{"op":"semdedup_ratio","cluster_rows":$clusterRows,"candidates":$semCand,"verified":$semVerified}""")
      }
      val (big, small) = (dropSets(2000L), dropSets(200L))
      val agree = if (big.isEmpty) 1.0
                  else big.intersect(small).size.toDouble / big.size
      println(f"""{"op":"semdedup_dropset","drops_k_coarse":${big.size},"drops_k_fine":${small.size},"fine_recall_of_coarse":$agree%.3f}""")

      // product-key blocking at guidance-consistent sizing (effective
      // cells ≈ N/200, kPerHalf = ⌈√cells⌉): candidate volume +
      // drop-set agreement vs the flat coarse baseline
      val kHalf = math.ceil(math.sqrt(math.max(8L, nVecs / 200L).toDouble)).toInt
      val pqCand = Similarity.semDedupPairsPQ(emb, -1.0, kHalf).count()
      val pqVerified = timed(s"semdedup_pairs_pq$kHalf") {
        Similarity.semDedupPairsPQ(emb, 0.4, kHalf).count()
      }
      val pqDrops = Similarity.semDedupPairsPQ(emb, 0.4, kHalf)
        .select("b").distinct().collect().map(_.getLong(0)).toSet
      val pqAgree = if (big.isEmpty) 1.0
                    else big.intersect(pqDrops).size.toDouble / big.size
      println(f"""{"op":"semdedup_pq","cells":${kHalf * kHalf},"candidates":$pqCand,"verified":$pqVerified,"drops":${pqDrops.size},"pq_recall_of_coarse":$pqAgree%.3f}""")

      // KEEP path with the rank-within-cell early-drop semi join: the
      // user-visible one-call dedup, at the same auto sizing the pair
      // scan above used — on a dup-dense corpus this must run well
      // under the pair scan, since its output is bounded by cell rows
      // (nAssign²·N) instead of the pair count
      val keepRows = timed("semdedup_keep_auto") {
        Similarity.semDedupKeepAuto(emb, 0.4, knownCount = Some(nVecs)).count()
      }
      println(s"""{"op":"semdedup_keep","kept":$keepRows,"corpus":$nVecs}""")
    }

    // IVF index lifecycle: persist the trained index to parquet, rebuild
    // without a KMeans fit, prove the reloaded search is the built
    // search (rows compared by the caller's spec; here the timing story:
    // load ≪ build)
    // PQ tier (q116/q119): the densest ANN storage — the scale claims
    // are (a) fit+encode is one linear pass, (b) ADC search cost is
    // m lookups/row over codes only, (c) IVF,PQ probe-scan cost is
    // nProbe/nList of that, (d) save/load/append parity with the IVF
    // store. Recall rides along next to the seconds like the ann
    // section's, vs the same brute baseline.
    if (section("pq")) {
      var pqBrute = Set.empty[(Long, Long)]
      pqBrute = Similarity.cosineTopK(emb, 5, 10)
        .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      release()
      def pqRecall(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select("qid", "vid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(pqBrute).size.toDouble / pqBrute.size
      }
      val pqR = pqRecall(Similarity.pqTopK(emb, 5, 10)); release()
      val pqRR = pqRecall(Similarity.pqTopKRefine(emb, 5, 10)); release()
      val ipqR = pqRecall(Similarity.ivfPqTopK(emb, 5, 10, 16, 4)); release()
      println(f"""{"op":"pq_recall_at_10","pq_adc":$pqR%.2f,"pq_refine":$pqRR%.2f,"ivfpq_nprobe4":$ipqR%.2f}""")
      timed("pq_topk")(Similarity.pqTopK(emb, 5, 10).count()); release()
      timed("pq_topk_refine")(Similarity.pqTopKRefine(emb, 5, 10).count()); release()
      timed("ivfpq_topk")(Similarity.ivfPqTopK(emb, 5, 10, 16, 4).count()); release()
      val tmpPq = java.nio.file.Files.createTempDirectory("pq_idx").toString
      timed("pq_build_and_save") {
        val idx = Similarity.pqBuild(emb)
        Similarity.pqSave(idx, tmpPq)
        idx.release(); 8L
      }
      timed("pq_load_and_search") {
        val idx = Similarity.pqLoad(spark, tmpPq)
        val n = Similarity.pqSearch(idx, emb.where(col("vec_id") < 5), 10).count()
        idx.release(); n
      }
      timed("pq_append_batch") {
        val batch = emb.where(col("vec_id") < math.max(1L, nVecs / 100))
          .select((col("vec_id") +
            org.apache.spark.sql.functions.lit(10000000L)).as("vec_id"),
            col("embedding"))
        Similarity.pqAppendSave(spark, tmpPq, batch)
        spark.read.parquet(s"$tmpPq/codes").count()
      }
      // OPQ tier: does the learned rotation's recall lift survive
      // corpus growth, and what does the extra fit cost at scale?
      val opqR = pqRecall(Similarity.opqTopK(emb, 5, 10)); release()
      val opqRR = pqRecall(Similarity.opqTopKRefine(emb, 5, 10)); release()
      val opqR8 = pqRecall(Similarity.opqTopK(emb, 5, 10, m = 8)); release()
      val pqR8 = pqRecall(Similarity.pqTopK(emb, 5, 10, m = 8)); release()
      println(f"""{"op":"opq_recall_at_10","opq_adc":$opqR%.2f,"opq_refine":$opqRR%.2f,"opq_adc_m8":$opqR8%.2f,"pq_adc_m8":$pqR8%.2f}""")
      timed("opq_topk")(Similarity.opqTopK(emb, 5, 10).count()); release()
      timed("opq_topk_refine")(Similarity.opqTopKRefine(emb, 5, 10).count()); release()
      val tmpOpq = java.nio.file.Files.createTempDirectory("opq_idx").toString
      timed("opq_build_and_save") {
        val idx = Similarity.opqBuild(emb)
        Similarity.opqSave(idx, tmpOpq)
        idx.release(); 8L
      }
      timed("opq_load_and_search") {
        val idx = Similarity.opqLoad(spark, tmpOpq)
        val n = Similarity.opqSearch(idx, emb.where(col("vec_id") < 5), 10).count()
        idx.release(); n
      }
      timed("opq_append_batch") {
        val batch = emb.where(col("vec_id") < math.max(1L, nVecs / 100))
          .select((col("vec_id") +
            org.apache.spark.sql.functions.lit(10000000L)).as("vec_id"),
            col("embedding"))
        Similarity.opqAppendSave(spark, tmpOpq, batch)
        spark.read.parquet(s"$tmpOpq/codes").count()
      }
    }

    if (section("ivfio")) {
      val tmp = java.nio.file.Files.createTempDirectory("ivf_idx").toString
      timed("ivf_build_and_save") {
        val idx = Similarity.ivfBuild(emb, 16)
        Similarity.ivfSave(idx, tmp)
        idx.release(); 16L
      }
      timed("ivf_load_and_search") {
        val idx = Similarity.ivfLoad(spark, tmp)
        val n = Similarity.ivfSearch(idx, emb.where(col("vec_id") < 5), 10, 3).count()
        idx.release(); n
      }
      // incremental add: assign a 1%-of-corpus batch against the saved
      // centroids and append to the list store — O(batch), no list scan,
      // no refit; the claim is append ≪ build
      timed("ivf_append_batch") {
        val batch = emb.where(col("vec_id") < math.max(1L, nVecs / 100))
          .select((col("vec_id") +
            org.apache.spark.sql.functions.lit(10000000L)).as("vec_id"),
            col("embedding"))
        Similarity.ivfAppendSave(spark, tmp, batch)
        spark.read.parquet(s"$tmp/assigned").count()
      }
      // drift maintenance: a 20%-of-corpus burst lands in a NEW region
      // (constant offset — far from every trained centroid, so frozen
      // assignment crams it into few lists), then the skew-gated
      // retrain writes the next generation. The claims to pin at scale:
      // rebalance cost ≈ build cost (one fit + one corpus shuffle, paid
      // only on drift) and skew measurably restored. transform() here
      // is bench fixture synthesis, not engine hot path.
      val drift = emb.where(col("vec_id") < math.max(1L, nVecs / 5))
        .select((col("vec_id") +
          org.apache.spark.sql.functions.lit(20000000L)).as("vec_id"),
          org.apache.spark.sql.functions
            .expr("transform(embedding, x -> x + CAST(5.0 AS FLOAT))")
            .as("embedding"))
      Similarity.ivfAppendSave(spark, tmp, drift)
      val skewBefore = {
        val ix = Similarity.ivfLoad(spark, tmp)
        val s = Similarity.ivfSkew(ix); ix.release(); s
      }
      val gen1 = s"${tmp}_g1"
      timed("ivf_rebalance") {
        graft.streaming.IngestVectors.maintainIndex(spark, tmp, 1.0, gen1)
        spark.read.parquet(s"$gen1/assigned").count()
      }
      val skewAfter = {
        val ix = Similarity.ivfLoad(spark, gen1)
        val s = Similarity.ivfSkew(ix); ix.release(); s
      }
      println(f"""{"op":"ivf_rebalance_skew","skew_before":$skewBefore%.2f,"skew_after":$skewAfter%.2f}""")
    }

    // Exact-substring spans (q99): df agg + join-back + islands — the
    // corpus-level law to pin is hit volume (duplicated positions) vs
    // gram volume, the analog of the minhash candidate:verified ratio
    if (section("exactsubstr")) {
      val spans = timed("exact_substr_spans") {
        Dedup.exactSubstrSpans(docs, 5).use(_.count())
      }
      println(s"""{"op":"exact_substr","spans":$spans,"docs":$nDocs}""")
      // the cut half (q102): same gram frame plus coverage explode +
      // per-doc reassembly; log the corpus-level token retention so the
      // dup-density cost driver is visible next to the seconds
      timed("exact_substr_cut") { Dedup.exactSubstrCut(docs, 5).use(_.count()) }
      val kept = Dedup.exactSubstrCut(docs, 5).use(
        _.agg(org.apache.spark.sql.functions.sum(col("n_tok")).as("t"),
          org.apache.spark.sql.functions.sum(col("n_cut")).as("c")).head())
      release()
      println(s"""{"op":"exact_substr_cut_tokens","total":${kept.getLong(0)},"cut":${kept.getLong(1)}}""")
      // boilerplate purge (q105): heavy-hitter table + targeted cut —
      // coverage bounded by topN gram occurrences, not corpus dup rate
      timed("heavy_hitters") { Dedup.heavyHitterGrams(docs, 5, 50).count() }
      timed("boilerplate_cut") { Dedup.boilerplateCut(docs, 5, 50).use(_.count()) }
    }

    // Count-Min heavy hitters (q125/q130): the bounded-memory form vs
    // the exact distinct-gram agg. Log the distinct-gram cardinality
    // (the exact form's shuffle/memory driver) next to the fixed
    // depth×width sketch state, and the store-merge cost — which must
    // stay O(depth·width) however big the corpus half is
    if (section("cms")) {
      val distinctGrams = timed("gram_cardinality") {
        Dedup.heavyHitterGrams(docs, 5, Int.MaxValue).count()
      }
      println(s"""{"op":"cms_state","sketch_rows":${4 * 8192},"distinct_grams":$distinctGrams}""")
      timed("heavy_hitters_exact") { Dedup.heavyHitterGrams(docs, 5, 50).count() }
      timed("heavy_hitters_cms") { Dedup.cmsHeavyHitters(docs, 5, 50).count() }
      val dir = java.nio.file.Files.createTempDirectory("cms_scale").toString
      timed("cms_store_init_half") {
        Dedup.cmsStoreSave(Dedup.cmsSketch(docs.where(col("doc_id") % 2 === 0)), dir)
        4L * 8192
      }
      timed("cms_store_merge_half") {
        Dedup.cmsStoreMerge(spark, dir, docs.where(col("doc_id") % 2 === 1))
        Dedup.cmsStoreLoad(spark, dir).count()
      }
    }

    // HLL cardinality audit (q129): the exact COUNT(DISTINCT) the
    // audit exists to retire vs the fixed-sketch estimate, plus the
    // worst per-source relative error at this corpus size
    if (section("hll")) {
      import org.apache.spark.sql.functions.{explode, split, lower, trim}
      var worst = 0.0
      timed("cardinality_audit") {
        val rows = TextAnalysis.cardinalityAudit(docs).collect()
        worst = rows.map(_.getDouble(3)).max
        rows.length.toLong
      }
      println(f"""{"op":"hll_worst_rel_err","err":$worst%.4f}""")
      timed("distinct_exact_only") {
        docs.select(col("source"), explode(split(lower(trim(col("text"))), " ")).as("w"))
          .groupBy("source")
          .agg(org.apache.spark.sql.functions.countDistinct(col("w")).as("n"))
          .count()
      }
      timed("distinct_hll_only") {
        docs.select(col("source"), explode(split(lower(trim(col("text"))), " ")).as("w"))
          .groupBy("source")
          .agg(org.apache.spark.sql.functions.approx_count_distinct(col("w"), 0.05).as("n"))
          .count()
      }
    }

    // DSIR importance resampling (q103): two bag-of-feature aggs + a
    // model join; the scale question is the hashed feature space —
    // bounded model size must not change the selection materially
    if (section("dsir")) {
      import graft.operators.TrainingData
      val n = math.max(100L, nDocs / 10).toInt
      val target = docs.where(col("lang") === "en")
      var exactIds = Set.empty[Long]
      timed("dsir_exact") {
        exactIds = TrainingData.dsirSelect(docs, target, n)
          .use(_.select("doc_id").collect().map(_.getLong(0)).toSet)
        exactIds.size.toLong
      }
      var hashedIds = Set.empty[Long]
      timed("dsir_hashed_64k") {
        hashedIds = TrainingData.dsirSelect(docs, target, n, 1 << 16)
          .use(_.select("doc_id").collect().map(_.getLong(0)).toSet)
        hashedIds.size.toLong
      }
      val overlap = if (exactIds.isEmpty) 1.0
                    else exactIds.intersect(hashedIds).size.toDouble / exactIds.size
      println(f"""{"op":"dsir_overlap","n":$n,"overlap":$overlap%.3f}""")
    }

    // Self-trained bigram LM scoring (q100): model agg + score join,
    // both map-side-combined; train on the first half, score everything
    // so the unseen-backoff join path is exercised at scale
    if (section("lm")) {
      timed("lm_quality_score") {
        TrainingData.lmQualityScore(docs,
          docs.where(col("doc_id") < nDocs / 2)).use(_.count())
      }
    }

    // Bloom-regime decontamination (q98) vs the broadcast regime (q84)
    // on the identical slice: same output (exactness is join-confirmed),
    // the question is the cost of trading the broadcast for the sketch
    if (section("bloomdecon")) {
      val evalCut = nDocs / 100
      val corp = docs.where(col("doc_id") >= evalCut)
      val ev = docs.where(col("doc_id") < evalCut)
      val exact = timed("decontaminate_broadcast") {
        TrainingData.decontaminate(corp, ev, 3, 2).count()
      }
      val bloom = timed("decontaminate_bloom") {
        TrainingData.decontaminateBloom(corp, ev, 3, 2, fpp = 0.01).use(_.count())
      }
      println(s"""{"op":"bloom_parity","broadcast_rows":$exact,"bloom_rows":$bloom}""")
    }

    // Int8 scalar quantization (q101): brute + IVF,SQ8 timing with
    // recall vs their float baselines — the codec must keep finding the
    // same neighbors while cutting candidate bytes ~7×
    if (section("sq8")) {
      val gold = Similarity.cosineTopK(emb, 5, 10)
        .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      release()
      var sqHits = Set.empty[(Long, Long)]
      timed("sq8_topk_brute") {
        sqHits = Similarity.sq8TopK(emb, 5, 10)
          .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        sqHits.size.toLong
      }
      val sqRecall = sqHits.intersect(gold).size.toDouble / gold.size
      val flIdx = Similarity.ivfBuild(emb.where(col("vec_id") >= 5), 16)
      val flHits = Similarity.ivfSearch(flIdx, emb.where(col("vec_id") < 5), 10, 3)
        .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      flIdx.release(); release()
      var sqIvfHits = Set.empty[(Long, Long)]
      timed("sq8_ivf_topk") {
        val idx = Similarity.ivfBuildSq8(emb.where(col("vec_id") >= 5), 16)
        sqIvfHits = Similarity.ivfSearchSq8(idx, emb.where(col("vec_id") < 5), 10, 3)
          .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        idx.release(); sqIvfHits.size.toLong
      }
      val ivfAgree = if (flHits.isEmpty) 1.0
                     else sqIvfHits.intersect(flHits).size.toDouble / flHits.size
      println(f"""{"op":"sq8_recall","brute_recall":$sqRecall%.2f,"ivf_agreement":$ivfAgree%.2f}""")
      // RefineFlat second stage: float re-rank of the int8 top-k×4 —
      // must restore exact float-IVF parity at ~the sq8 scan cost
      var refHits = Set.empty[(Long, Long)]
      timed("sq8_ivf_refine") {
        val idx = Similarity.ivfBuildSq8(emb.where(col("vec_id") >= 5), 16)
        refHits = Similarity.ivfSearchSq8Refine(idx,
            emb.where(col("vec_id") >= 5), emb.where(col("vec_id") < 5), 10, 3)
          .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        idx.release(); refHits.size.toLong
      }
      val refAgree = if (flHits.isEmpty) 1.0
                     else refHits.intersect(flHits).size.toDouble / flHits.size
      println(f"""{"op":"sq8_refine_agreement","vs_float_ivf":$refAgree%.2f}""")
    }

    // Streaming ingest gate (IngestDedup over the signature store): the
    // scale claim is that per-batch cost stays BOUNDED as the store
    // grows — the store side of the band join streams from parquet and
    // only matching (band, bkey) groups move. Five equal batches fold
    // the corpus into an empty store; each line logs batch seconds,
    // survivors, and the store size it deduped against.
    if (section("ingest")) {
      import graft.streaming.IngestDedup
      val tmpS = java.nio.file.Files.createTempDirectory("ingest_store").toString
      val tmpO = java.nio.file.Files.createTempDirectory("ingest_out").toString
      val nBatches = 5
      val step = math.max(1L, nDocs / nBatches)
      for (b <- 0 until nBatches) {
        val lo = b * step
        val hi = if (b == nBatches - 1) Long.MaxValue else (b + 1) * step
        val batch = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id", "text")
        val storeBefore =
          if (b == 0) 0L
          else spark.read.parquet(tmpS).count()
        val t0 = System.nanoTime()
        val kept = IngestDedup.processBatch(batch, tmpS, tmpO, 0.5)
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        println(f"""{"op":"ingest_batch","batch":$b,"kept":$kept,"store_before":$storeBefore,"sec":$sec%.2f}""")
      }
      val totalKept = spark.read.parquet(tmpO).count()
      println(s"""{"op":"ingest_total","kept":$totalKept,"docs":$nDocs}""")
    }

    // Online pair mining inside the unified ingest: per-batch cost of
    // gate → mine-neighbors → land → index-append → telemetry as the
    // store grows. The search term is O(batch · nProbe · clusterRows)
    // with clusterRows = store/nList under the frozen seed quantizer,
    // so per-batch time is EXPECTED to grow mildly with the store
    // until maintenance rebalances — report store_before so the growth
    // law is visible, not hidden.
    if (section("pairmine")) {
      import graft.streaming.IngestPipeline
      val seedN = math.max(256L, nVecs / 10)
      val idxPath = java.nio.file.Files.createTempDirectory("pm_index").toString
      val seedIdx = Similarity.ivfBuild(
        emb.where(col("vec_id") < seedN),
        math.max(8L, seedN / 256).toInt)
      Similarity.ivfSave(seedIdx, idxPath)
      seedIdx.release()
      val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(docs("doc_id"), col("text"), col("embedding"))
      val (sigsP, outP, teleP, nbrsP) = (
        java.nio.file.Files.createTempDirectory("pm_sigs").toString,
        java.nio.file.Files.createTempDirectory("pm_out").toString,
        java.nio.file.Files.createTempDirectory("pm_tele").toString,
        java.nio.file.Files.createTempDirectory("pm_nbrs").toString)
      val nBatches = 5
      val span = math.max(1L, (nVecs - seedN) / nBatches)
      for (b <- 0 until nBatches) {
        val lo = seedN + b * span
        val hi = if (b == nBatches - 1) Long.MaxValue else seedN + (b + 1) * span
        val batch = feed.where(col("doc_id") >= lo && col("doc_id") < hi)
        val storeBefore = spark.read.parquet(s"$idxPath/assigned").count()
        val t0 = System.nanoTime()
        val kept = IngestPipeline.processBatch(batch, b.toLong, sigsP, outP,
          idxPath, teleP, 0.5, neighborsPath = Some(nbrsP), neighborK = 10)
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        println(f"""{"op":"pairmine_batch","batch":$b,"kept":$kept,"store_before":$storeBefore,"sec":$sec%.2f}""")
      }
      val pairs = spark.read.parquet(nbrsP).count()
      println(s"""{"op":"pairmine_total","pairs":$pairs}""")
    }

    // Coarse-quantizer fit cost at corpus-scaled nList: the MLlib
    // distributed KMeans (N×nList×iters — the remaining super-unit
    // term of the r7 campaign) vs ivfBuild(sampleFit = true) (bounded
    // driver Lloyd + one codegen assignment pass). Probed recall on a
    // hash-sampled query set shows the cheap fit separates the corpus
    // as well as the full one; the exhaustive dial is fit-invariant by
    // construction (SimilaritySpec pins it bit-equal).
    if (section("ivfbuild")) {
      // gold computed DISTRIBUTED (the sqrtn pattern) — collecting the
      // corpus to the driver is an OOM/stall at the sf100 scale this
      // report targets (2M × 64-dim doubles ≈ 1 GB + O(q·N) scans)
      val nList = math.max(8L, nVecs / 256).toInt
      val gold = Similarity.cosineTopK(emb, 50, 10)
        .select("qid", "vid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      release()
      val corpus = emb.where(col("vec_id") >= 50)
      val qDf = emb.where(col("vec_id") < 50)
      for (sample <- Seq(false, true)) {
        val t0 = System.nanoTime()
        val idx = Similarity.ivfBuild(corpus, nList, sampleFit = sample)
        idx.assigned.count()
        val buildSec = (System.nanoTime() - t0) / 1e9
        val got = Similarity.ivfSearch(idx, qDf, 10, 2)
          .select("qid", "vid").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val rec = gold.keys.toSeq.map(q =>
          gold(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / gold(q).size)
        idx.release(); release()
        println(f"""{"op":"ivf_build","fit":"${if (sample) "sample" else "mllib"}","nlist":$nList,"sec":$buildSec%.2f,"recall_at_10_nprobe2":${rec.sum / rec.size}%.3f}""")
      }
    }

    // Online pair mining WITH the supervisor loop: growth-gated
    // maintenance (maintainIndex targetClusterRows + sampleFit)
    // interleaved between batches, generation swaps via new paths +
    // ivfReplayGap. The claim under test: per-batch cost returns
    // toward flat after each rebalance instead of growing linearly
    // with the store (the frozen-quantizer law the plain `pairmine`
    // section measures).
    if (section("pairmaint")) {
      import graft.streaming.{IngestPipeline, IngestVectors}
      val target = 256L
      val seedN = math.max(256L, nVecs / 10)
      val idxPath0 = java.nio.file.Files.createTempDirectory("pmm_index").toString
      val seedIdx = Similarity.ivfBuild(
        emb.where(col("vec_id") < seedN),
        math.max(8L, seedN / target).toInt)
      Similarity.ivfSave(seedIdx, idxPath0)
      seedIdx.release()
      val sup = new IngestVectors.IndexSupervisor(spark, idxPath0,
        java.nio.file.Files.createTempDirectory("pmm_gens").toString,
        maxSkew = 2.0, targetClusterRows = target, sampleFit = true)
      val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(docs("doc_id"), col("text"), col("embedding"))
      val (sigsP, outP, teleP, nbrsP) = (
        java.nio.file.Files.createTempDirectory("pmm_sigs").toString,
        java.nio.file.Files.createTempDirectory("pmm_out").toString,
        java.nio.file.Files.createTempDirectory("pmm_tele").toString,
        java.nio.file.Files.createTempDirectory("pmm_nbrs").toString)
      val nBatches = 5
      val span = math.max(1L, (nVecs - seedN) / nBatches)
      for (b <- 0 until nBatches) {
        val lo = seedN + b * span
        val hi = if (b == nBatches - 1) Long.MaxValue else seedN + (b + 1) * span
        val batch = feed.where(col("doc_id") >= lo && col("doc_id") < hi)
        val cur = sup.currentPath
        val storeBefore = spark.read.parquet(s"$cur/assigned").count()
        val nListNow = spark.read.parquet(s"$cur/centroids").count()
        val t0 = System.nanoTime()
        val kept = IngestPipeline.processBatch(batch, b.toLong, sigsP, outP,
          cur, teleP, 0.5, neighborsPath = Some(nbrsP), neighborK = 10)
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        println(f"""{"op":"pairmaint_batch","batch":$b,"kept":$kept,"store_before":$storeBefore,"nlist":$nListNow,"gen":${sup.generation},"sec":$sec%.2f}""")
        // the supervisor gates growth/skew and performs the swap
        // contract (rebuild + idempotent gap replay + path move)
        val t1 = System.nanoTime()
        if (sup.maintain()) {
          val mSec = (System.nanoTime() - t1) / 1e9
          val newList = spark.read.parquet(s"${sup.currentPath}/centroids").count()
          release()
          println(f"""{"op":"pairmaint_rebalance","after_batch":$b,"gen":${sup.generation},"nlist":$newList,"sec":$mSec%.2f}""")
        } else release()
      }
      val pairs = spark.read.parquet(nbrsP).count()
      println(s"""{"op":"pairmaint_total","pairs":$pairs,"generations":${sup.generation}}""")
    }

    // The √N dial (Similarity.knnJoin scaladoc): at extreme N,
    // targetClusterRows ∝ √N trades build cost (∝ N·nList, nList =
    // N/target) against per-probe query cost (∝ N/nList). Measured
    // here as build-vs-search seconds + recall at the two sizings —
    // the claim was documented in round 6 but never measured. Builds
    // use sampleFit (the bounded fit is the extreme-N path); gold is
    // the distributed brute-force top-10 for the first 50 vectors.
    if (section("sqrtn")) {
      val goldDf = Similarity.cosineTopK(emb, 50, 10)
      val gold = goldDf.select("qid", "vid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      release()
      val corpus = emb.where(col("vec_id") >= 50)
      val sqrtTarget = math.max(256L, math.round(math.sqrt(nVecs.toDouble)))
      // the fixed-target arm is the disproven strawman (8× build cost,
      // 10–26× worse fixed-nProbe recall at 2 M — SCALE.md round 8);
      // past 5 M vectors its nList makes the assign O(N·nList) absurd
      // (projected hours), so it is dropped LOUDLY, not silently
      val arms =
        if (nVecs > 5000000L) {
          println(s"""{"op":"sqrtn_skip","arm":"default","reason":"fixed-target nList = ${nVecs / 256} at $nVecs vectors: assign cost O(N*nList) is hours; the arm lost at 2M already (round 8)"}""")
          Seq("sqrtN" -> sqrtTarget)
        } else Seq("default" -> 256L, "sqrtN" -> sqrtTarget)
      for ((label, target) <- arms) {
        val nList = math.max(8L, nVecs / target).toInt
        val t0 = System.nanoTime()
        val idx = Similarity.ivfBuild(corpus, nList, sampleFit = true)
        idx.assigned.count()
        val buildSec = (System.nanoTime() - t0) / 1e9
        // fixed nProbe shows the round-6 trap (recall tracks the scan
        // fraction nProbe/nList, so corpus-scaled nList starves it);
        // the held-fraction arm anchors to the 2 M point's 8/1414 and
        // is the `knnJoin scanFrac` serving dial — the recall-stable
        // scaling claim
        val heldProbe = math.max(1, math.round(nList * 8.0 / 1414.0).toInt)
        for (nProbe <- Seq(2, 8, heldProbe).distinct) {
          // recall on the 50 gold queries; TIME on a 2000-query batch
          // (enough probe·clusterRows volume for the N/nList term to
          // dominate the fixed store-scan cost)
          val got = Similarity.ivfSearch(idx,
              emb.where(col("vec_id") < 50), 10, nProbe)
            .select("qid", "vid").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          val rec = gold.keys.toSeq.map(q =>
            gold(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / gold(q).size)
          val t1 = System.nanoTime()
          Similarity.ivfSearch(idx,
            emb.where(col("vec_id") < 2000), 10, nProbe).count()
          val searchSec = (System.nanoTime() - t1) / 1e9
          println(f"""{"op":"sqrtn","sizing":"$label","target":$target,"nlist":$nList,"nprobe":$nProbe,"build_sec":$buildSec%.2f,"search2k_sec":$searchSec%.2f,"recall_at_10":${rec.sum / rec.size}%.3f}""")
        }
        idx.release(); release()
      }
    }

    // Edit-distance join family (q161/q162): the scale story is
    // blocking SELECTIVITY, which tracks key entropy — and this
    // synthetic corpus (31-word vocabulary, word-soup heads) is the
    // adversarial case: the rarest q-grams are still common, so
    // prefix-filter candidate lists grow with the corpus, while the
    // PassJoin segment variant's exact 6-to-8-char positional matches
    // prune harder on the same keys. Report candidates vs verified
    // for both families at the q161 dials (head-32, d = 4), plus
    // end-to-end time.
    if (section("editjoin") && docsOpt.nonEmpty) {
      val heads = docs.selectExpr("doc_id AS id", "substring(text, 1, 32) AS s")
      val base = Dedup.edBase(heads)
      val candPfx = Dedup.edPrefixCandidates(base, 4, 3).distinct().count()
      val candSeg = Dedup.edSegCandidates(base, 4, 3).distinct().count()
      base.unpersist(blocking = false); release()
      val possible = nDocs * (nDocs - 1) / 2
      println(s"""{"op":"edit_join_candidates","prefix":$candPfx,"seg":$candSeg,"possible":$possible}""")
      var verified = 0L
      timed("edit_join_prefix") {
        verified = Dedup.editDistancePairs(heads, 4).use(_.count()); verified
      }
      timed("edit_join_seg")(Dedup.editDistancePairsSeg(heads, 4).use(_.count()))
      println(s"""{"op":"edit_join_ratio","verified":$verified,"cand_per_verified_prefix":${if (verified > 0) candPfx / verified else -1},"cand_per_verified_seg":${if (verified > 0) candSeg / verified else -1}}""")
    }

    // Lexical serving store (q165/q166): the claim under test is the
    // serving economics — a store-backed search reads |terms| bucket
    // partitions where the in-memory scorer re-tokenizes the corpus
    // per call, and appends stay O(batch). Build amortizes over
    // searches; the crossover is the search count where the store
    // pays for itself.
    if (section("lex") && docsOpt.nonEmpty) {
      import graft.operators.Lexical
      val dir = java.nio.file.Files.createTempDirectory("scale_lex").toString
      val terms = Seq("spark", "merge", "dup")
      timed("lex_build") {
        Lexical.lexSave(spark, docs, dir)
        spark.read.parquet(s"$dir/postings").count()
      }
      timed("lex_search_store")(Lexical.lexSearch(spark, dir, terms, 20).count())
      timed("bm25_rescan")(
        graft.operators.TextAnalysis.bm25TopK(docs, terms, 20).count())
      val batch = docs.where(col("doc_id") < nDocs / 100 + 1)
        .selectExpr("doc_id + 10000000 AS doc_id", "text")
      timed("lex_append_1pct") {
        Lexical.lexAppendSave(spark, dir, batch, 1L); batch.count()
      }
      // the SELECTIVE-term law: store search cost tracks Σ df(term) —
      // the postings actually read — where the rescan always pays the
      // full corpus tokenize. The 31-word corpus has no selective
      // terms (every term matches ~every doc, so the common-term rows
      // above are corpus-bound BOTH ways); plant one via an appended
      // batch and measure the asymmetry directly.
      val rare = spark.range(100).selectExpr("id + 20000000 AS doc_id",
        "'zzqx rare signal zzqx' AS text")
      Lexical.lexAppendSave(spark, dir, rare, 2L)
      val withRare = docs.selectExpr("doc_id", "text").unionByName(rare)
      timed("lex_search_store_rare")(
        Lexical.lexSearch(spark, dir, Seq("zzqx"), 20).count())
      timed("bm25_rescan_rare")(
        graft.operators.TextAnalysis.bm25TopK(withRare, Seq("zzqx"), 20).count())
      timed("lex_compact")(Lexical.lexCompact(spark, dir))
    }

    if ((section("lex") || section("lexgeo")) && docsOpt.nonEmpty) {
      import graft.operators.Lexical
      // corpus-scaled geometry (round-10): at a frozen save-time
      // geometry a term's probe reads its whole bucket — every
      // CO-HASHED term's postings ride along, and bucket volume grows
      // with the corpus. The 31-word driver vocabulary can't show this
      // (most buckets hold at most one term), so the geometry demo
      // uses a corpus-sized WIDE-vocabulary store: vocab ∝ corpus,
      // 3 pseudo-random terms/doc + one planted rare term. Searches
      // are geometry-independent (bit-equal, LexicalSpec pin); the
      // probe-volume drop is the rebalance claim.
      val vocabN = math.max(1000L, nDocs)
      val wide = spark.range(nDocs).selectExpr("id AS doc_id",
        s"""concat('w', CAST(xxhash64(id) % $vocabN AS STRING),
               ' w', CAST(xxhash64(id + 1000000000) % $vocabN AS STRING),
               ' w', CAST(xxhash64(id + 2000000000) % $vocabN AS STRING),
               CASE WHEN id % ${math.max(1L, nDocs / 100L)} = 0
                    THEN ' zzqx' ELSE '' END) AS text""")
      // frozen small-corpus save geometry (8 buckets) vs the
      // corpus-scaled target (~2 k rows/bucket): probe rows AFTER must
      // sit near the target at ANY corpus size — that is the flat line
      val wdir = java.nio.file.Files.createTempDirectory("scale_lexw").toString
      timed("lexgeo_build_8") {
        Lexical.lexSave(spark, wide, wdir, nBuckets = 8)
        spark.read.parquet(s"$wdir/postings").count()
      }
      val rowsBefore = Lexical.lexProbeRows(spark, wdir, Seq("zzqx"))
      // min-of-3 on the searches (CLAUDE.md round 4: single runs are
      // noise; a 20-row search is overhead-bound and the overhead is
      // what the geometry claim is about)
      for (r <- 0 until 3)
        timed(s"lexgeo_search_8_rep$r")(
          Lexical.lexSearch(spark, wdir, Seq("zzqx"), 20).count())
      val postingRows = spark.read.parquet(s"$wdir/postings").count()
      val want = math.max(16L, postingRows / 2000L).toInt
      timed(s"lexgeo_rebalance_to_$want")(
        Lexical.lexRebalance(spark, wdir, want))
      val rowsAfter = Lexical.lexProbeRows(spark, wdir, Seq("zzqx"))
      println(s"""{"op":"lexgeo_probe_rows","before":$rowsBefore,"after":$rowsAfter,"postings":$postingRows,"buckets_after":$want}""")
      for (r <- 0 until 3)
        timed(s"lexgeo_search_rebal_rep$r")(
          Lexical.lexSearch(spark, wdir, Seq("zzqx"), 20).count())
    }

    // Fuzzy-key ingest gate (q169/q170, streaming.IngestFuzzy): the
    // claim under test is that per-batch cost tracks batch × STORE
    // candidate volume (linear in the store on these adversarial keys,
    // sub-linear on natural ones), where the re-join alternative pays
    // the full self-join every time history changes. Five equal
    // batches fold through the persisted segment store; the one-shot
    // self-join at the same d is the rescan yardstick.
    if (section("fuzzygate") && docsOpt.nonEmpty) {
      import graft.streaming.IngestFuzzy
      val dir = java.nio.file.Files.createTempDirectory("scale_fzstore").toString
      val out = java.nio.file.Files.createTempDirectory("scale_fzout").toString
      val d = 3
      val keys = docs.selectExpr("doc_id", "substring(text, 1, 32) AS key")
      IngestFuzzy.fuzzySave(spark,
        keys.limit(0).selectExpr("doc_id AS id", "key AS s"), dir, d)
      val nB = 5
      val cut = nDocs / nB + 1
      var keptTotal = 0L
      for (b <- 0 until nB) {
        val batch = keys.where(col("doc_id") >= b * cut &&
          col("doc_id") < (b + 1) * cut)
        timed(s"fuzzy_gate_batch$b") {
          val k = IngestFuzzy.processBatch(batch, dir, out)
          keptTotal += k
          k
        }
      }
      val storeKeys = spark.read.parquet(s"$dir/keys").count()
      println(s"""{"op":"fuzzy_gate_kept","kept":$keptTotal,"store_keys":$storeKeys,"of":$nDocs}""")
      // the rescan yardstick is the full quadratic self-join — measured
      // only up to 100 k docs (the entropy law projects it beyond; the
      // gate batches above run at every size; not a silent cap)
      if (nDocs <= 100000L)
        timed("fuzzy_rescan_once")(
          Dedup.editDistancePairsSeg(
            keys.selectExpr("doc_id AS id", "key AS s"), d).use(_.count()))
      else
        println(s"""{"op":"fuzzy_rescan_once","skipped":"quadratic beyond 100k docs (entropy law projects ~81x candidates per 10x)"}""")
    }

    // The controlled store-size experiment for the fuzzy gate: batch
    // size HELD CONSTANT at 10 k keys, the store pre-seeded with the
    // rest of the corpus — so per-batch cost isolates the store term
    // (the equal-fifths fold above conflates it with the in-batch
    // self-join, which dominates at 100 k-key batches on these
    // adversarial keys).
    if (section("fuzzyseed") && docsOpt.nonEmpty) {
      import graft.streaming.IngestFuzzy
      val dir = java.nio.file.Files.createTempDirectory("scale_fzseed").toString
      val out = java.nio.file.Files.createTempDirectory("scale_fzsout").toString
      val d = 3
      val keys = docs.selectExpr("doc_id", "substring(text, 1, 32) AS key")
      val batchN = 10000L
      val nB = 3L
      val seedCut = math.max(0L, nDocs - batchN * nB)
      timed("fuzzyseed_build") {
        IngestFuzzy.fuzzySave(spark,
          keys.where(col("doc_id") < seedCut)
            .selectExpr("doc_id AS id", "key AS s"), dir, d)
        spark.read.parquet(s"$dir/keys").count()
      }
      for (b <- 0L until nB) {
        val batch = keys.where(col("doc_id") >= seedCut + b * batchN &&
          col("doc_id") < seedCut + (b + 1) * batchN)
        timed(s"fuzzyseed_batch$b")(IngestFuzzy.processBatch(batch, dir, out))
      }
    }

    // The fingerprint gate's store term, isolated (round-12): batch
    // size HELD CONSTANT at 10 k single-part fingerprints, the store
    // pre-seeded at growing sizes. The gate re-derives the store's
    // band rows (C(d+bc, bc) = 20× at d=3, bc=3) every batch, so the
    // per-batch cost vs store size IS the law this section measures —
    // deciding whether hashes/ needs the round-12 bucketed geometry or
    // stays correctly unbuilt (the linkage-CC-fallback discipline).
    // Fingerprints are synthetic (xxhash64 of the id — uniform), so
    // candidate collisions sit at the random-corpus floor and the
    // measured cost is the structural term: store scan + band explode
    // + broadcast probe. No corpus tables needed.
    if (section("fpseed")) {
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      import graft.streaming.IngestFingerprints
      val d = 3; val bc = 3
      val batchN = 10000L
      def fp(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("id"), lit(0).as("p"), xxhash64(col("id")).as("h"))
      // round-13: SPARK_GRAFT_FPSEED_STORES extends the store ladder a
      // decade (20 M, 50 M) without making the default run pay for it
      val stores = sys.env.get("SPARK_GRAFT_FPSEED_STORES")
        .map(_.split(",").map(_.trim.toLong).toSeq)
        .getOrElse(Seq(1000000L, 2000000L, 5000000L))
      for (storeN <- stores) {
        val dir = java.nio.file.Files.createTempDirectory("scale_fpseed").toString
        val out = java.nio.file.Files.createTempDirectory("scale_fpout").toString
        timed(s"fpseed_build_$storeN") {
          IngestFingerprints.fpSave(spark, fp(spark.range(storeN).toDF("id")),
            dir, d, bc)
          spark.read.parquet(s"$dir/hashes").count()
        }
        for (b <- 0 until 3) {
          val ids = spark.range(storeN + b * batchN,
            storeN + (b + 1) * batchN).toDF("id")
          val batch = ids.select(col("id").as("doc_id"))
          timed(s"fpseed_store${storeN}_batch$b")(
            IngestFingerprints.processBatch(batch, dir, out, fp(ids)))
        }
        // the SERVING question (round-13): a POINT probe (5 records,
        // ~100 band keys) against the scan-derived path vs the bands/
        // index's pruned named-dir read. Planted twin: probe id 0
        // re-uses the store's own hash so the probe does real matching
        // work on both paths; results are asserted bit-equal.
        // SPARK_GRAFT_FPSERVE_MAX bounds the bandsSave arm: the index
        // is a C(d+bc,bc)× row blowup (1 B rows / ~40 GB shuffle at
        // 50 M fingerprints), so the big rungs measure the scan side
        // only unless the disk budget is explicitly granted.
        val serveMax = sys.env.get("SPARK_GRAFT_FPSERVE_MAX")
          .map(_.toLong).getOrElse(Long.MaxValue)
        val probeIds = spark.range(0, 5).toDF("id")
        val probeFp = probeIds.select(col("id"), lit(0).as("p"),
          xxhash64(pmod(col("id"), lit(storeN))).as("h"))
        val scanHits = timed(s"fpserve_scan_$storeN")(
          IngestFingerprints.fpProbe(spark, dir, probeFp).count())
        if (storeN <= serveMax) {
          timed(s"fpserve_bands_build_$storeN")(
            IngestFingerprints.bandsSave(spark, dir))
          val bandHits = timed(s"fpserve_point_$storeN")(
            IngestFingerprints.fpProbe(spark, dir, probeFp).count())
          require(scanHits == bandHits,
            s"point-probe paths disagree: scan=$scanHits bands=$bandHits")
          println(s"""{"op":"fpserve_hits","store":$storeN,"hits":$bandHits}""")
        } else
          println(s"""{"op":"fpserve_skip","store":$storeN,"reason":"bands blowup over SPARK_GRAFT_FPSERVE_MAX"}""")
      }
    }

    // The UNIFIED six-store ingest, composed (round-10): content gate →
    // fuzzy-key gate → land → vector index → lexical postings →
    // telemetry, every batch through ONE IngestPipeline.processBatch.
    // The isolated campaigns above own each store's scale law; this one
    // measures the composition — per-store append cost per batch and
    // the total per-batch latency — because cross-store interactions
    // (the two-store refreshByPath class of bug) only surface here.
    if (section("pipeline") && docsOpt.nonEmpty) {
      import graft.streaming.{IngestFuzzy, IngestImages, IngestPipeline}
      import graft.operators.Lexical
      def td(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      val (sigsP, outP, teleP, idxP, lexP, fzP, imgP) = (td("pl_sigs"),
        td("pl_out"), td("pl_tele"), td("pl_idx"), td("pl_lex"), td("pl_fz"),
        td("pl_img"))
      // the feed is docs ⋈ embeddings — its extent is the SMALLER
      // table (GenData ships fewer vectors than docs), so batch spans
      // must cover feedN, not nDocs (found empirically: nDocs-based
      // spans left batches 2-4 EMPTY at sf1 and read as a kept cliff)
      val feedN = math.min(nDocs, nVecs)
      val seedN = math.max(256L, feedN / 10)
      // round-13: the FOURTH gate armed — every record carries a real
      // executor-synthesized PNG payload; ~10 % of records are the
      // brightness twin of a single earlier record (seed id−5 for
      // ids ≡ 0 mod 10 — pair groups, never a hot hash), so the image
      // gate does real dropping work at every scale
      val mkPng = org.apache.spark.sql.functions.udf((id: Long) => {
        val seed = if (id % 10 == 0) id - 5 else id
        graft.operators.Multimodal.pngPatternBytes(
          seed, (id % 5).toInt * 3, 32, 24)
      })
      val feed = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .selectExpr("doc_id", "text", "embedding",
          "substring(text, 1, 32) AS key")
        .withColumn("image", mkPng(col("doc_id")))
      // index/lex/fuzzy seeded from the first tenth (the pairmine
      // convention); sig store starts empty — seed docs are exempt
      // from the content gate but present in both serving stores
      timed("pipeline_seed") {
        val seedIdx = Similarity.ivfBuild(
          emb.where(col("vec_id") < seedN),
          math.max(8L, seedN / 256).toInt)
        Similarity.ivfSave(seedIdx, idxP)
        seedIdx.release()
        val seed = feed.where(col("doc_id") < seedN)
        Lexical.lexSave(spark, seed.selectExpr("doc_id", "text"), lexP)
        IngestFuzzy.fuzzySave(spark,
          seed.selectExpr("doc_id AS id", "key AS s"), fzP, 3)
        // fingerprint store starts empty (seed docs are exempt from
        // every gate); the banding layout is fixed here
        IngestImages.dhashSave(spark,
          spark.createDataFrame(spark.sparkContext
              .emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("h",
                org.apache.spark.sql.types.LongType)))),
          imgP, maxHamming = 2)
        seedN
      }
      val nBatches = 5
      // corpus-fraction spans (the default fifths) are the round-10
      // shape; at sf100 one such batch (360 k keys, 36 fuzzy slices)
      // accumulated 71 GB of shuffle spill and filled the disk before
      // finishing — the wall is LOCAL-DISK SPILL, not CPU. Override
      // with SPARK_GRAFT_PIPE_SPAN (keys/batch) to run the disciplined
      // micro-batch shape at extreme SF; the default stays the
      // corpus-fraction stress shape for comparable rows at sf1/sf10.
      val spanOverridden = sys.env.contains("SPARK_GRAFT_PIPE_SPAN")
      val span = sys.env.get("SPARK_GRAFT_PIPE_SPAN").map(_.toLong)
        .getOrElse(math.max(1L, (feedN - seedN) / nBatches))
      for (b <- 0 until nBatches) {
        val lo = seedN + b * span
        // default shape: the last fifth absorbs the remainder; an
        // overridden span keeps every batch the declared size
        val hi = if (b == nBatches - 1 && !spanOverridden) Long.MaxValue
                 else seedN + (b + 1) * span
        val batch = feed.where(col("doc_id") >= lo && col("doc_id") < hi)
        val m = scala.collection.mutable.Map.empty[String, Double]
        val t0 = System.nanoTime()
        val kept = IngestPipeline.processBatch(batch, b.toLong, sigsP, outP,
          idxP, teleP, 0.5, lexPath = Some(lexP), fuzzyStorePath = Some(fzP),
          imageStorePath = Some(imgP), timings = Some(m))
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        val stages = m.toSeq.sortBy(_._1)
          .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
        println(f"""{"op":"pipeline_batch","batch":$b,"kept":$kept,"sec":$sec%.2f,$stages}""")
      }
      val (nOut, nLex, nFz) = (spark.read.parquet(outP).count(),
        spark.read.parquet(s"$lexP/docstats").count(),
        spark.read.parquet(s"$fzP/keys").count())
      // cross-store consistency incl. the fingerprint store: every
      // kept record past the seed carries exactly one decodable PNG →
      // kept == fingerprints must hold (the kept == indexed law
      // extended to the fourth store)
      val nImg = spark.read.parquet(s"$imgP/hashes").count()
      println(s"""{"op":"pipeline_total","out":$nOut,"lex_docs":$nLex,"fuzzy_keys":$nFz,"img_fps":$nImg,"feed":$feedN}""")
    }

    // The auto-split defense for the in-batch quadratic (round-10):
    // ONE corpus-fraction batch — half the corpus in a single call —
    // through the gate, which folds it into ≤10 k-key id-ordered
    // slices with bit-exact first-wins parity. Per-slice cost must
    // stay flat-ish (the in-batch term is now slice-bounded; the
    // store+prior-slices probe term is the sub-linear one), where the
    // UNSPLIT gate measured ~8 min per 100 k-key batch at sf10.
    if (section("fuzzysplit") && docsOpt.nonEmpty) {
      import graft.streaming.IngestFuzzy
      val dir = java.nio.file.Files.createTempDirectory("scale_fzsplit").toString
      val out = java.nio.file.Files.createTempDirectory("scale_fzspout").toString
      val d = 3
      val keys = docs.selectExpr("doc_id", "substring(text, 1, 32) AS key")
      val half = nDocs / 2
      timed("fuzzysplit_build") {
        IngestFuzzy.fuzzySave(spark,
          keys.where(col("doc_id") < half)
            .selectExpr("doc_id AS id", "key AS s"), dir, d)
        spark.read.parquet(s"$dir/keys").count()
      }
      val batch = keys.where(col("doc_id") >= half)
      val t0 = System.nanoTime()
      val (nKept, stats) =
        IngestFuzzy.gateBatchStats(batch, dir, "key", 10000).use { case (kept, st) =>
          val n = kept.count()
          kept.write.mode("append").parquet(out)
          (n, st)
        }
      val tot = (System.nanoTime() - t0) / 1e9
      stats.zipWithIndex.foreach { case ((nk, sec), i) =>
        println(f"""{"op":"fuzzysplit_slice$i","keys":$nk,"sec":$sec%.2f}""")
      }
      println(f"""{"op":"fuzzysplit_total","slices":${stats.size},"kept":$nKept,"sec":$tot%.2f}""")
      release()
      // the direct A/B yardstick: the SAME sub-batch through the gate
      // split (10 k slices) vs unsplit, against the same store (the
      // gate writes nothing, so the store is identical for both).
      // Bounded at 100 k keys and declared — the unsplit in-batch term
      // is the round-9 quadratic, ~8 min at 100 k on these keys.
      val yard = math.min(100000L, nDocs - half)
      val yBatch = keys.where(col("doc_id") >= half &&
        col("doc_id") < half + yard)
      for ((label, mk) <- Seq("split" -> 10000, "unsplit" -> Int.MaxValue)) {
        val t1 = System.nanoTime()
        val (n2, st) = IngestFuzzy.gateBatchStats(yBatch, dir, "key", mk)
          .use { case (k2, st) => (k2.count(), st) }
        release()
        println(f"""{"op":"fuzzysplit_yardstick_$label","keys":$yard,"slices":${st.size},"kept":$n2,"sec":${(System.nanoTime() - t1) / 1e9}%.2f}""")
      }
    }

    // Linkage blocking under a PLANTED skewed block (round-10): one
    // block holds 10 % of all records, so its pair volume is (N/10)² —
    // the scale risk the fieldAgreements scaladoc defers to AQE. Rows
    // measured: blocked-pair volume (the real cost driver), wall-clock
    // of the one equi-join unaided vs salted (the explicit mitigation,
    // output-identical by construction), and whether AQE's skew split
    // actually fired on the unaided plan.
    if (section("linkskew") && docsOpt.nonEmpty) {
      import graft.operators.Linkage
      import graft.operators.Linkage.{BandRule, ExactRule, LevRule}
      // the hot block's pair volume is quadratic BY CONSTRUCTION
      // ((N/10)² — that's the point), so the record count is capped at
      // 200 k and the cap is printed, never silent: the behavior under
      // test (one reducer owning (N/10)² pairs vs AQE split vs salt)
      // is fully armed well below the cap
      val cap = math.min(nDocs, 200000L)
      val rec = docs.where(col("doc_id") < cap)
      val blockExpr = "CASE WHEN doc_id % 10 = 0 THEN 'hot' " +
        "ELSE CAST(doc_id % 64 AS STRING) END"
      val a = rec.selectExpr("doc_id AS id", s"$blockExpr AS block",
        "substring(text, 1, 24) AS head", "source", "n_chars")
      val b = rec.selectExpr("doc_id + 100000000 AS id",
        s"$blockExpr AS block", "substring(text, 1, 23) AS head",
        "source", "n_chars + 3 AS n_chars")
      val rules = Seq(LevRule("head", 2), ExactRule("source"),
        BandRule("n_chars", 5))
      val hotShare = rec.where("doc_id % 10 = 0").count()
      println(s"""{"op":"linkskew_corpus","records":$cap,"of":$nDocs,"hot_block":$hotShare}""")
      val ag = Linkage.fieldAgreements(a, b, rules)
      timed("linkskew_pairs_unaided")(ag.count())
      // AQE skew evidence from the executed adaptive plan; below the
      // broadcast threshold the join broadcasts and reducer skew is
      // MOOT (probe-side work rides the scan partitioning), so the
      // shuffle path is also measured explicitly with broadcast off —
      // that is the plan shape a 100 TB side actually gets
      val plan = ag.queryExecution.executedPlan.toString
      val bcast = plan.contains("BroadcastHashJoin")
      println(s"""{"op":"linkskew_plan","aqe_skew_split":${plan.contains("skew")},"broadcast":$bcast}""")
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val agS = Linkage.fieldAgreements(a, b, rules)
        timed("linkskew_pairs_shuffle")(agS.count())
        val planS = agS.queryExecution.executedPlan.toString
        println(s"""{"op":"linkskew_plan_shuffle","aqe_skew_split":${planS.contains("skew")},"smj":${planS.contains("SortMergeJoin")}}""")
        timed("linkskew_pairs_shuffle_salt16")(
          Linkage.fieldAgreements(a, b, rules, salt = 16).count())
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      timed("linkskew_pairs_salt16")(
        Linkage.fieldAgreements(a, b, rules, salt = 16).count())
      release()
    }

    // Sorted-neighborhood blocking (q175): candidates are ≤ N·w BY
    // CONSTRUCTION — the linear answer on exactly the low-entropy keys
    // where the exact blockings go quadratic — at the price of bounded
    // recall. Both halves measured: cost vs the seg join, and the
    // fraction of the exact join's pairs the window actually sees.
    if (section("snm") && docsOpt.nonEmpty) {
      import graft.operators.Linkage
      val heads = docs.selectExpr("doc_id AS id", "substring(text, 1, 32) AS skey")
      val w = 10
      timed("snm_pairs")(Linkage.snmPairs(heads, w, 4).count())
      // the recall half pays one EXACT seg join — quadratic candidates
      // on these keys, so it is measured only up to 100 k docs (the
      // linear-cost half above runs at every size; not a silent cap)
      if (nDocs <= 100000L) {
        val snm = Linkage.snmPairs(heads, w, 4).select("id_a", "id_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nSnm = snm.count()
        val (nExact, hit) = Dedup.editDistancePairsSeg(
            heads.selectExpr("id", "skey AS s"), 4).map(_.select("id_a", "id_b"))
          .materialize.use { exact =>
            (exact.count(), snm.join(exact, Seq("id_a", "id_b"), "left_semi").count())
          }
        release()
        println(s"""{"op":"snm_recall","cand_bound":${nDocs * w},"snm_verified":$nSnm,"exact_verified":$nExact,"recall_ppm":${if (nExact > 0) hit * 1000000L / nExact else 1000000L}}""")
      } else
        println(s"""{"op":"snm_recall","skipped":"exact-join baseline quadratic beyond 100k docs","cand_bound":${nDocs * w}}""")
    }

    // Entity clustering at corpus scale (q184's CC over the match
    // graph): three planted feeds per entity (nonlinear md5/xxhash64
    // mixers per the round-10 corpus rule), one blocked self-join for
    // the scored links, GraphX connectedComponents over the verified
    // match set. Measures the un-measured term from round 10: CC
    // iteration cost on a linkage graph (per-entity triangles, not the
    // near-dup graph's degree profile) as the corpus grows.
    if (section("linkcc") && docsOpt.nonEmpty) {
      import graft.operators.Linkage
      import graft.operators.Linkage.{BandRule, ExactRule, LevRule}
      import org.apache.spark.sql.functions.col
      import org.apache.spark.storage.StorageLevel
      val nBlocks = math.max(64L, (nDocs * 3) / 48) // ~48 records/block
      val recs = docs.selectExpr("doc_id AS e")
        .selectExpr("e", "explode(array(0, 1, 2)) AS f")
        .selectExpr("e * 4 + f AS id",
          s"CAST(pmod(xxhash64(e), $nBlocks) AS STRING) AS block",
          "concat(substr(md5(concat('k', e)), 1, 16), " +
            "CASE WHEN f = 0 THEN '' ELSE char(96 + f) END) AS key",
          "substr(md5(concat('s', e)), 1, 6) AS src",
          "pmod(xxhash64(concat('n', e)), 1000000) + f AS num")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nRecs = recs.count()
      println(s"""{"op":"linkcc_corpus","entities":$nDocs,"records":$nRecs,"blocks":$nBlocks}""")
      val lkRules = Seq(LevRule("key", 2), ExactRule("src"),
        BandRule("num", 5))
      val lkW = Map("key" -> (600, -400), "src" -> (300, -200),
        "num" -> (200, -100))
      var t0 = System.nanoTime()
      val links = Linkage.fieldAgreements(recs, recs, lkRules)
        .withColumn("score", Linkage.scoreColumn(lkRules, lkW).cast("int"))
        .where(col("score") >= 700 && col("id_a") < col("id_b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nLinks = links.count()
      println(f"""{"op":"linkcc_links","links":$nLinks,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      t0 = System.nanoTime()
      val good = Linkage.entityClusters(recs, recs, links).materialize.use { clusters =>
        val nAssigned = clusters.count()
        println(f"""{"op":"linkcc_cc","rows":$nAssigned,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
        clusters.groupBy("entity").count().where(col("count") === 3).count()
      }
      println(s"""{"op":"linkcc_recovered","clusters_of_3":$good,"planted":$nDocs}""")
      release()
    }

    // shared planted three-feed linkage feed (nonlinear mixers)
    def linkFeed(maxEnt: Long, nBlocks: Long) = docs.selectExpr("doc_id AS e")
      .where(s"e < $maxEnt")
      .selectExpr("e", "explode(array(0, 1, 2)) AS f")
      .selectExpr("e * 4 + f AS doc_id",
        s"CAST(pmod(xxhash64(e), $nBlocks) AS STRING) AS block",
        "concat(substr(md5(concat('k', e)), 1, 16), " +
          "CASE WHEN f = 0 THEN '' ELSE char(96 + f) END) AS key",
        "substr(md5(concat('s', e)), 1, 6) AS src",
        "pmod(xxhash64(concat('n', e)), 1000000) + f AS num")
    val linkRules = Seq(graft.operators.Linkage.LevRule("key", 2),
      graft.operators.Linkage.ExactRule("src"),
      graft.operators.Linkage.BandRule("num", 5))
    val linkW = Map("key" -> (600, -400), "src" -> (300, -200),
      "num" -> (200, -100))
    val linkMerge = Seq(graft.operators.Linkage.Longest("key"),
      graft.operators.Linkage.PreferA("src"),
      graft.operators.Linkage.Greatest("num"))

    // Streaming entity resolution (IngestLinkage): per-batch cost as
    // the entity store grows — the flat-append claim every ingest
    // store carries, measured on the same planted three-feed corpus
    // (id-interleaved so every batch mixes store matches, in-batch
    // chains, and new entities).
    if (section("ingestlink") && docsOpt.nonEmpty) {
      import graft.streaming.IngestLinkage
      val entPerBatch = 3000L // ~9 k records/batch, the micro-batch size
      val nBatches = math.min(8L, nDocs / entPerBatch).toInt
      if (nBatches >= 2) {
        val feed = linkFeed(nBatches * entPerBatch,
          math.max(64L, (nDocs * 3) / 48))
        val dir = java.nio.file.Files.createTempDirectory("sr_link").toString
        IngestLinkage.linkSave(spark, s"$dir/store", linkRules, linkW, 700,
          linkMerge)
        for (i <- 0 until nBatches) {
          val (lo, hi) = (i * entPerBatch * 4, (i + 1) * entPerBatch * 4)
          val t0 = System.nanoTime()
          val nb = IngestLinkage.processBatch(
            feed.where(s"doc_id >= $lo AND doc_id < $hi"),
            s"$dir/store", s"$dir/out")
          release()
          val members = spark.read.parquet(s"$dir/store/members").count()
          println(f"""{"op":"ingestlink_batch","batch":$i,"rows":$nb,"store_members":$members,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
        }
        val ents = spark.read.parquet(s"$dir/store/entities")
          .select("entity").distinct().count()
        println(s"""{"op":"ingestlink_entities","entities":$ents,"planted":${nBatches * entPerBatch}}""")
        release()
      } else println(s"""{"op":"ingestlink","skipped":"corpus too small"}""")
    }

    // The store-growth LAW: micro-batch cost against a store three
    // orders larger than the batch — the per-batch term that grows
    // with the store is one columnar members/ scan (the batch side
    // broadcasts), and this measures its slope. Seeding runs through
    // the SAME gate in coarse slices (big batches are legal, just not
    // the steady-state discipline), then timed micro-batches probe
    // stores of increasing size.
    if (section("ingestlinkbig") && docsOpt.nonEmpty && nDocs >= 320000) {
      import graft.streaming.IngestLinkage
      val nBlocks = math.max(64L, (nDocs * 3) / 48)
      val feed = linkFeed(315000L, nBlocks) // 5 × (60 k seed + 3 k micro)
      val dir = java.nio.file.Files.createTempDirectory("sr_linkbig").toString
      IngestLinkage.linkSave(spark, s"$dir/store", linkRules, linkW, 700,
        linkMerge)
      // alternate: one coarse 60 k-entity seed slice, then a timed
      // 3 k-entity micro-batch — five rungs of store size
      for (i <- 0 until 5) {
        val seedLo = i * 63000L
        val seedHi = seedLo + 60000L
        IngestLinkage.processBatch(
          feed.where(s"doc_id >= ${seedLo * 4} AND doc_id < ${seedHi * 4}"),
          s"$dir/store", s"$dir/out")
        release()
        val members = spark.read.parquet(s"$dir/store/members").count()
        val t0 = System.nanoTime()
        val nb = IngestLinkage.processBatch(
          feed.where(s"doc_id >= ${seedHi * 4} AND doc_id < ${(seedHi + 3000L) * 4}"),
          s"$dir/store", s"$dir/out")
        release()
        println(f"""{"op":"ingestlinkbig_rung","rung":$i,"store_members":$members,"micro_rows":$nb,"micro_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      release()
    }

    // One corpus-fraction fuzzy backfill with the DISK-BACKED lineage
    // cut (round-12): the round-11 sf100 wall was 71 GB of shuffle
    // spill accumulated inside one 360 k-key batch closure; the
    // scratch fold releases each slice's shuffles mid-fold, so peak
    // spill must track the SLICE, not the batch. Peak local-disk
    // bytes sampled live; a no-scratch A/B arm runs at a bounded size
    // (the unreleased fold is the disk killer at full size).
    if (section("fuzzybackfill") && docsOpt.nonEmpty) {
      import graft.streaming.IngestFuzzy
      def td(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      def sizeOf(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
      def sparkLocalBytes(): Long =
        Option(new java.io.File("/tmp").listFiles).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("blockmgr-") ||
            f.getName.startsWith("spark-"))
          .map(sizeOf).sum
      val keys = docs.selectExpr("doc_id", "substring(text, 1, 32) AS key")
      def backfill(nKeys: Long, scratch: Boolean): Unit = {
        val (dir, out) = (td("sr_bf_store"), td("sr_bf_out"))
        val scr = if (scratch) Some(td("sr_bf_scratch")) else None
        IngestFuzzy.fuzzySave(spark,
          keys.limit(0).selectExpr("doc_id AS id", "key AS s"), dir, 3)
        val base = sparkLocalBytes()
        @volatile var peak = 0L
        @volatile var done = false
        val sampler = new Thread(() => {
          while (!done) {
            peak = math.max(peak, sparkLocalBytes() - base)
            Thread.sleep(5000)
          }
        })
        sampler.setDaemon(true); sampler.start()
        val t0 = System.nanoTime()
        val kept = IngestFuzzy.processBatch(
          keys.where(col("doc_id") < nKeys), dir, out,
          maxKeys = 10000, scratch = scr)
        done = true; sampler.join()
        peak = math.max(peak, sparkLocalBytes() - base)
        val scrGb = scr.map(s => sizeOf(new java.io.File(s)) / 1e9)
          .getOrElse(0.0)
        release()
        println(f"""{"op":"fuzzybackfill","keys":$nKeys,"scratch":$scratch,"kept":$kept,"sec":${(System.nanoTime() - t0) / 1e9}%.1f,"peak_spill_gb":${peak / 1e9}%.2f,"scratch_gb":$scrGb%.2f}""")
      }
      // bounded A/B: both arms at 1/3 of the round-11 wall size
      val abKeys = math.min(nDocs, 120000L)
      backfill(abKeys, scratch = false)
      backfill(abKeys, scratch = true)
      // the full round-11 wall point, scratch fold only
      if (nDocs >= 360000L) backfill(360000L, scratch = true)
    }

    // The bucket prune's payoff regime (round-12): partition pruning
    // pays when the probe's distinct segment tuples are FEWER than the
    // buckets — point lookups and micro-probes against a
    // wide-vocabulary store (the lexSearch geometry law transplanted);
    // ingest-sized batches cover every bucket and degrade to the full
    // scan (their win is the removed shuffles, measured in the
    // pipeline rerun). Wide-vocab md5 keys make every segment distinct.
    if (section("fuzzygeo") && docsOpt.nonEmpty) {
      import graft.streaming.IngestFuzzy
      val dir = java.nio.file.Files.createTempDirectory("sr_fgeo").toString
      val wide = docs.selectExpr("doc_id",
        "substr(md5(concat('w', doc_id)), 1, 24) AS key")
      val storeN = math.min(nDocs, 500000L)
      val nB = 1024
      timed("fuzzygeo_build") {
        IngestFuzzy.fuzzySave(spark,
          wide.where(col("doc_id") < storeN)
            .selectExpr("doc_id AS id", "key AS s"), dir, 3, nBuckets = nB)
        spark.read.parquet(s"$dir/segs").count()
      }
      val full = spark.read.parquet(s"$dir/segs").count()
      for (bn <- Seq(1, 10, 100, 1000)) {
        val batch = wide.where(col("doc_id") < bn)
          .selectExpr("doc_id AS id", "key AS s",
            "length(key) AS len")
        val t0 = System.nanoTime()
        val read = IngestFuzzy.prunedStoreSegs(spark, dir, batch, 3, 3, nB)
          .count()
        println(f"""{"op":"fuzzygeo_probe","batch_keys":$bn,"segs_read":$read,"segs_full":$full,"read_frac":${read.toDouble / full}%.4f,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      release()
    }

    // The deferred auto-salt PAYOFF ladder (round-10 task, round-12
    // measured): the planted hot block's pairs are (N/10)² in ONE
    // reducer unaided — wall-clock unaided vs fieldAgreementsAuto at
    // growing N, broadcast off (the 100 TB plan shape), unaided arm
    // gated by its own projection from the previous rung so the
    // ladder can't strand the campaign in a multi-hour task.
    if (section("linkskewbig") && docsOpt.nonEmpty) {
      import graft.operators.Linkage
      import graft.operators.Linkage.{BandRule, ExactRule, LevRule}
      val rules = Seq(LevRule("head", 2), ExactRule("source"),
        BandRule("n_chars", 5))
      val blockExpr = "CASE WHEN doc_id % 10 = 0 THEN 'hot' " +
        "ELSE CAST(doc_id % 64 AS STRING) END"
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        var last: Option[(Double, Double)] = None // (hotPairs, sec)
        for (nRec <- Seq(200000L, 400000L, 800000L, 2000000L)
               .filter(_ <= nDocs)) {
          val rec = docs.where(col("doc_id") < nRec)
          val a = rec.selectExpr("doc_id AS id", s"$blockExpr AS block",
            "substring(text, 1, 24) AS head", "source", "n_chars")
          val b = rec.selectExpr("doc_id + 100000000 AS id",
            s"$blockExpr AS block", "substring(text, 1, 23) AS head",
            "source", "n_chars + 3 AS n_chars")
          val hotPairs = (nRec / 10).toDouble * (nRec / 10).toDouble
          timed(s"linkskewbig_auto_$nRec")(
            Linkage.fieldAgreementsAuto(a, b, rules).count())
          val projected = last.map { case (hp, s) => s * hotPairs / hp }
          if (projected.forall(_ < 2400.0)) {
            val t0 = System.nanoTime()
            timed(s"linkskewbig_plain_$nRec")(
              Linkage.fieldAgreements(a, b, rules).count())
            last = Some((hotPairs, (System.nanoTime() - t0) / 1e9))
          } else
            println(f"""{"op":"linkskewbig_plain_$nRec","skipped":"projected ${projected.get}%.0f s unaided hot task","hot_pairs":${hotPairs.toLong}}""")
        }
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      release()
    }

    // Entity-store survivorship churn (round-12): every fold touches
    // every entity, so entities/ grows one version per entity per fold
    // — the read cost of goldenLatest vs chain depth, the compaction
    // payoff, and the goldenMaintain cadence gate.
    if (section("linkgolden") && docsOpt.nonEmpty) {
      import graft.streaming.IngestLinkage
      val dir = java.nio.file.Files.createTempDirectory("sr_lg").toString
      val E = 2000L
      val nFolds = 50
      IngestLinkage.linkSave(spark, s"$dir/store", linkRules, linkW, 700,
        linkMerge)
      def fold(f: Int) = spark.range(E).selectExpr(
        s"id * 1 + $f * $E AS doc_id", // globally increasing ids
        "CAST(pmod(id, 97) AS STRING) AS block",
        "substr(md5(concat('k', id)), 1, 16) AS key",
        "substr(md5(concat('s', id)), 1, 6) AS src",
        "pmod(xxhash64(concat('n', id)), 1000000) AS num")
        .selectExpr("doc_id", "block", "key", "src", "num")
      def timeRead(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = IngestLinkage.goldenLatest(spark, s"$dir/store").count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      for (f <- 0 until nFolds) {
        val t0 = System.nanoTime()
        IngestLinkage.processBatch(fold(f), s"$dir/store", s"$dir/out")
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        if ((f + 1) % 10 == 0) {
          val versions = spark.read.parquet(s"$dir/store/entities").count()
          val (ents, rsec) = timeRead()
          release()
          println(f"""{"op":"linkgolden_read","folds":${f + 1},"versions":$versions,"entities":$ents,"fold_sec":$sec%.2f,"read_sec":$rsec%.2f}""")
        }
      }
      // the compaction payoff + the cadence gate
      val before = spark.read.parquet(s"$dir/store/entities").count()
      assert(IngestLinkage.goldenMaintain(spark, s"$dir/store", 4.0))
      val after = spark.read.parquet(s"$dir/store/entities").count()
      val (_, rsec) = timeRead()
      println(f"""{"op":"linkgolden_compact","versions_before":$before,"versions_after":$after,"read_sec_after":$rsec%.2f}""")
      // compacted store still folds correctly (one more fold, replay-safe)
      val n = IngestLinkage.processBatch(fold(nFolds), s"$dir/store", s"$dir/out")
      println(s"""{"op":"linkgolden_postcompact_fold","rows":$n}""")
      release()
    }

    val leaked = spark.sparkContext.getPersistentRDDs.size
    println(s"""{"op":"persist_hygiene","leaked_after_release":$leaked}""")
    spark.stop()
  }
}
