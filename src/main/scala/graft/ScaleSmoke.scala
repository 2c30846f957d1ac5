package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Scale smoke for the dedup family: multiply the documents corpus N×
  * (id-offset copies) and run the production-shape pipelines on it,
  * cross-checking the two exact paths against each other. Not part of the
  * driver gate — evidence that the 100 TB shapes survive a corpus well
  * beyond the bench SF on the same hardware:
  * `runMain graft.ScaleSmoke <sfDir> <multiplier>`.
  *
  * Construction note: each source doc gains N−1 exact copies, so every
  * copy-set is a jaccard-1.0 clique — the pair relation grows ~N²/2 per
  * doc and the component loop sees clique-merged near-dup groups, both
  * deliberately stressing candidate generation and the iterative join.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    // copy offset derived from the data: a fixed constant would collide
    // with real ids on corpora of a million-plus documents
    val docStride = base.agg(max("doc_id")).head().getLong(0) + 1L
    val big = (0 until mult).map { i =>
      base.select((col("doc_id") + lit(i.toLong * docStride)).as("doc_id"), col("text"))
    }.reduce(_ unionAll _)
    val docs = big
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions.shingles(col("tk"), 3)).as("sh"))
      .cache()
    val nDocs = docs.count()

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    println(s"[scale] corpus: $nDocs docs ($sfDir x$mult)")
    val prefixPairs = timed("prefix_jaccard") {
      DedupOps.jaccardPairsPrefix(docs, 0.5).count()
    }
    val lshPairs = timed("minhash_lsh") {
      DedupOps.minhashLshPairs(docs, 0.5).count()
    }
    val comps = timed("connected_components") {
      DedupOps.connectedComponents(
        DedupOps.jaccardPairsPrefix(docs, 0.5).select("a_id", "b_id")).count()
    }
    println(s"[scale] pairs prefix=$prefixPairs lsh=$lshPairs clustered_nodes=$comps")
    assert(prefixPairs == lshPairs,
      s"exact paths disagree at scale: prefix=$prefixPairs lsh=$lshPairs")

    // Fuzzy decontamination (round 10) with an EXACT invariant: bench =
    // the original corpus (copy 0), train = every later copy — each
    // train doc is an identical copy of a bench doc, so EVERY train doc
    // must be flagged with max_jaccard = 1.0 (a missed band bucket, a
    // broken verify, or a side leak all break the count or the value).
    timed("decontaminate_fuzzy") {
      val out = DedupOps.decontaminateFuzzy(
        docs.filter(col("doc_id") >= docStride),
        docs.filter(col("doc_id") < docStride), 0.5).cache()
      val n = out.count()
      val exact = out.filter(col("max_jaccard") === 1.0).count()
      out.unpersist()
      require(n == nDocs - nDocs / mult && exact == n,
        s"fuzzy-decontam invariant broken at x$mult: flagged=$n exact=$exact" +
          s" expected=${nDocs - nDocs / mult}")
      n
    }

    // Incremental matching: the FIRST delta pays the index build (its
    // cost ≈ the full path's candidate machinery), every NEXT delta
    // probes the warm plan-keyed cache — the amortized per-batch cost of
    // the continuously-ingesting shape is the second number.
    val deltaPairs = timed("incremental_first_delta") {
      DedupOps.jaccardPairsDelta(docs, _ % 20 === 3, 0.5).count()
    }
    val deltaPairs2 = timed("incremental_next_delta") {
      DedupOps.jaccardPairsDelta(docs, _ % 20 === 7, 0.5).count()
    }
    println(s"[scale] delta pairs=$deltaPairs/$deltaPairs2 (5% deltas vs full index)")

    val toks = big.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val simhash = timed("simhash_chunks") {
      DedupOps.simhashPairs(toks).count()
    }
    val baseV = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val vecStride = baseV.agg(max("vec_id")).head().getLong(0) + 1L
    val bigV = (0 until mult).map { i =>
      baseV.select((col("vec_id") + lit(i.toLong * vecStride)).as("vec_id"), col("v"))
    }.reduce(_ unionAll _)
    val srp = timed("srp_bands") {
      DedupOps.srpPairs(bigV, 0.4).count()
    }
    println(s"[scale] simhash_pairs=$simhash srp_pairs=$srp")

    // blocked exact pair join (round 11 — the BNLJ replacement): on the
    // ×N id-offset corpus every base pair (cos ≥ 0.4) appears in N²
    // copy combinations and every base vector contributes C(N,2)
    // identical-copy pairs at cos 1.0 — the same closed form the
    // containment leg pins. Any deviation means the block-pair
    // enumeration lost or duplicated a candidate.
    timed("embedding_pairs_blocked") {
      val basePairs = DedupOps.embeddingPairsExact(baseV, 0.4).count()
      val nBaseVecs = baseV.count()
      val bigPairs = DedupOps.embeddingPairsExact(bigV, 0.4).count()
      assert(bigPairs == mult.toLong * mult * basePairs +
        nBaseVecs * (mult.toLong * (mult - 1) / 2),
        s"blocked pair algebra: $bigPairs != $mult²·$basePairs + C($mult,2)·$nBaseVecs")
      bigPairs
    }

    // Contrastive negatives (round 16): the cluster→rep side input is
    // size-gated — at ×N the near-dup membership IS the whole corpus
    // (every doc sits in a copy-clique), so force the cap to drive the
    // row-distributed JOIN branch at scale and pin it row-for-row
    // against the zero-shuffle map-literal branch on the same inputs.
    timed("contrastive_two_branch") {
      val comps = DedupOps.connectedComponents(
        DedupOps.jaccardPairsPrefix(docs, 0.5).select("a_id", "b_id"))
      val anchors = big.select("doc_id")
      // membership here exceeds the default probe-cost bound (every doc
      // sits in a copy-clique), so the map branch must be FORCED — which
      // is itself the point: the default gate routes this corpus to the
      // join branch
      spark.conf.set("graft.contrastive.maxMapEntries", Long.MaxValue.toString)
      val mapBranch =
        try DedupOps.contrastiveNegatives(anchors, comps).cache()
        finally spark.conf.unset("graft.contrastive.maxMapEntries")
      val nMap = mapBranch.count()
      spark.conf.set("graft.broadcast.maxBytes", "1")
      val joinBranch =
        try DedupOps.contrastiveNegatives(anchors, comps)
        finally spark.conf.unset("graft.broadcast.maxBytes")
      val nJoin = joinBranch.count()
      val diverged = joinBranch.exceptAll(mapBranch).count()
      mapBranch.unpersist()
      require(nMap == nJoin && diverged == 0,
        s"contrastive branches diverge at x$mult: map=$nMap join=$nJoin " +
          s"except=$diverged")
      nMap
    }

    // Corpus-statistics family at the multiplied corpus: the explode →
    // aggregate-compressed-broadcast shapes (unigram NLL), the
    // window-count-over-span-key shape (dup spans), the double-counted
    // collocation relations (PMI), and the iterative merge loop (BPE).
    // All should scale ~linearly in the corpus — a blowup here means a
    // shape regressed to something per-consumer or per-stratum.
    timed("unigram_logprob") {
      graft.operators.TextOps.unigramLogprob(big).count()
    }
    timed("dup_spans") {
      graft.operators.TextOps.dupSpans(big).count()
    }
    timed("pmi_bigrams") {
      graft.operators.TextOps.pmiBigrams(big).count()
    }
    // Span-merge islands (round 10) on the multiplied corpus, with an
    // EXACT invariant: every doc has mult−1 identical copies, so each
    // ≥8-token doc's every 8-gram position is cross-document duplicated
    // → exactly ONE island covering the full token range. A violation
    // means the gram window or the island merge dropped/split positions
    // at scale.
    timed("dup_span_merge") {
      val spans = graft.operators.TextOps.dupSpanMerge(big)
      val nt = big.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 8)
      val bad = spans.join(nt, "doc_id")
        .filter(col("n_spans") =!= 1L ||
          col("covered_tokens") =!= col("n_tokens") ||
          col("max_span_len") =!= col("n_tokens"))
        .count()
      val missing = nt.count() - spans.count()
      require(bad == 0 && missing == 0,
        s"span-merge invariant broken at x$mult: bad=$bad missing=$missing")
      bad
    }
    timed("bpe_merges_8") {
      // 8 rounds, as in the gate: with the per-round cache each round is
      // one replace pass over the previous materialization — time should
      // grow ~linearly in rounds even on the multiplied corpus
      graft.operators.TextOps.bpeMerges(big, 8).count()
    }
    timed("encode_ids") {
      graft.operators.TextOps.encodeIds(big).count()
    }
    // round-6 additions: per-language top-k grams through the partial/
    // final TopKPerKeyExec split (the per-language shuffle must carry
    // ≤ partitions×langs×k rows regardless of corpus size) and the
    // z-score normalization (stats aggregate-compress to one row per
    // language). Synthetic 5-language split over the multiplied corpus.
    val bigLang = big.withColumn("lang",
      element_at(array(lit("en"), lit("zh"), lit("es"), lit("fr"), lit("de")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int")))
    timed("ngram_topk") {
      graft.operators.TextOps.ngramTopK(bigLang).count()
    }
    timed("quality_zscore") {
      graft.operators.TextOps.qualityZscore(bigLang).count()
    }
    // Conditional-broadcast fallback: with the estimate cap forced below
    // any relation, the vocab joins must NOT broadcast — the same query
    // re-plans as shuffle joins and still completes on the multiplied
    // corpus (the 100 TB degradation path instead of a driver OOM).
    timed("unigram_logprob_nobc") {
      // auto-broadcast off too, as in ExplainSpec: at 100 TB both sides'
      // estimates exceed the threshold — the two caps simulate that here
      spark.conf.set("graft.broadcast.maxBytes", "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try graft.operators.TextOps.unigramLogprob(big).count()
      finally {
        spark.conf.unset("graft.broadcast.maxBytes")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }

    // Stratified-sampler skew smoke: a 90%-one-language corpus is the
    // realistic shape (real web corpora are en-dominated). The exact
    // row_number sampler routes the dominant stratum through ONE task;
    // the hash-threshold sampler is a scan-local filter whose time is
    // flat in skew — the round-3 verdict's top ask, measured here.
    // the sampler input is just (doc_id, lang), so this leg can afford a
    // much larger corpus than the pair joins: 8× the dedup multiplier
    val bigIds = (0 until mult * 8).map { i =>
      base.select((col("doc_id") + lit(i.toLong * docStride)).as("doc_id"))
    }.reduce(_ unionAll _)
    val skewed = bigIds.select(
      col("doc_id"),
      when(col("doc_id") % 10 < 9, lit("en")).otherwise(lit("zh")).as("lang"))
      .cache()
    val nSkew = skewed.count()
    val hashKept = timed("sample_hash_skew90") {
      graft.operators.TextOps.stratifiedSampleHash(skewed).count()
    }
    val exactKept = timed("sample_exact_skew90") {
      graft.operators.TextOps.stratifiedSampleExact(skewed, 0.05).count()
    }
    println(s"[scale] skewed corpus=$nSkew sampled hash=$hashKept exact=$exactKept")

    // round-7 additions. ppl buckets: the within-language rank machinery
    // (range sort + scan-local per-(partition, lang) indexes + broadcast
    // offsets) must keep producing exact ntile semantics on the
    // multiplied corpus — per language the tercile sizes sum to the
    // language's count and differ by ≤ 1.
    timed("ppl_buckets") {
      val rows = graft.operators.TextOps.pplBuckets(bigLang).collect()
      val byLang = rows.groupBy(_.getString(0))
      val langCounts = bigLang.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      byLang.foreach { case (lang, bs) =>
        val sizes = bs.map(_.getLong(2))
        assert(sizes.sum == langCounts(lang), s"$lang: buckets must partition")
        assert(sizes.max - sizes.min <= 1, s"$lang: ntile sizes differ >1")
      }
      rows.length
    }
    // keyword TF-IDF: tf is scan-local (term_counts), so the only
    // corpus-sized exchange is the ≤3-rows-per-doc top-k final; every
    // copy-doc keeps its own top-3 → rows scale exactly with the corpus.
    val kwBase = timed("keyword_tfidf_base") {
      graft.plans.GraftPlans.topKPerKey(
        graft.operators.TextOps.tfidfScored(base), Seq("doc_id"), Seq("tfidf6" -> false, "term" -> true), 3)
        .count()
    }
    val kwBig = timed("keyword_tfidf_xN") {
      graft.plans.GraftPlans.topKPerKey(
        graft.operators.TextOps.tfidfScored(big), Seq("doc_id"), Seq("tfidf6" -> false, "term" -> true), 3)
        .count()
    }
    assert(kwBig == mult * kwBase,
      s"keyword rows must scale with the corpus: $kwBase x$mult != $kwBig")
    // copurchase: orderkey-offset copies multiply every pair's support
    // exactly — the top-20 via the run-walk mapPartitions expansion must
    // be the base top-20 with counts × mult.
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val okStride = li.agg(max("l_orderkey")).head().getLong(0) + 1L
    val bigLi = (0 until mult).map { i =>
      li.select((col("l_orderkey") + lit(i.toLong * okStride)).as("l_orderkey"),
        col("l_partkey"))
    }.reduce(_ unionAll _)
    val basePairs = timed("copurchase_base") {
      graft.operators.RelOps.copurchasePairs(li).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val bigPairs = timed("copurchase_xN") {
      graft.operators.RelOps.copurchasePairs(bigLi).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    assert(bigPairs.toSeq == basePairs.map { case (a, b, n) => (a, b, n * mult) }.toSeq,
      "copurchase top-20 must be the base top-20 with support x mult")

    // round-7 batch-2 additions. Triangle census: orderkey-offset copies
    // leave the DISTINCT co-purchase edge set unchanged, so the whole
    // census (nodes, edges, wedges, triangles, coefficient) must be
    // bit-identical to the base graph's while the input is mult× the
    // rows — dedup robustness of the edge build plus flat output under
    // duplicated input for the intersection stage.
    val baseTri = timed("triangles_base") {
      graft.operators.RelOps.triangleCensus(li).collect().head.toSeq
    }
    val bigTri = timed("triangles_xN") {
      graft.operators.RelOps.triangleCensus(bigLi).collect().head.toSeq
    }
    assert(bigTri == baseTri,
      s"triangle census must be duplication-invariant: $baseTri vs $bigTri")

    // k-means: duplicating every vector ×N multiplies each cluster's
    // (sum, count) by N, so every floor-divided mean — and therefore the
    // whole two-round trajectory — is unchanged; copies co-assign with
    // their originals. n_members scales exactly ×N per cluster and the
    // centroid fingerprints are bit-identical.
    def kmCensus(e: DataFrame): Seq[(Long, Long, Long)] = {
      val (assigned, cents) = graft.operators.SimilarityOps.kmeans8Of(e)
      val fp = cents.select(col("c_id").as("cluster"),
        aggregate(col("cv"), lit(0L), (acc, x) => acc + x).as("centroid_sum"))
      assigned.groupBy("cluster").agg(count(lit(1)).as("n_members"))
        .join(fp, "cluster")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    }
    val baseKm = timed("kmeans_base") { kmCensus(baseV) }
    val bigKm = timed("kmeans_xN") { kmCensus(bigV) }
    assert(bigKm == baseKm.map { case (c, n, s) => (c, n * mult, s) },
      s"kmeans must be duplication-invariant: $baseKm vs $bigKm")

    // intra-doc dedup is per-row: output rows scale exactly with the
    // corpus and the shape stays shuffle-free at any size.
    val intraBase = timed("intradoc_base") {
      graft.operators.TextOps.intradocDedup(
        base.select(col("doc_id"), split(col("text"), " ").as("tk"))).count()
    }
    val intraBig = timed("intradoc_xN") {
      graft.operators.TextOps.intradocDedup(
        big.select(col("doc_id"), split(col("text"), " ").as("tk"))).count()
    }
    assert(intraBig == mult * intraBase,
      s"intradoc rows must scale with the corpus: $intraBase x$mult != $intraBig")

    // round-7 batch-3 additions -------------------------------------------

    // skyline: key-offset part copies keep every (price, size) point (and
    // the frontier) identical — member rows scale exactly ×N because ties
    // on both axes are mutually non-dominated, and the frontier SET is
    // duplication-invariant.
    val partBase = Tables.part(spark, sfDir)
      .select("p_partkey", "p_retailprice", "p_size")
    val pkStride = partBase.agg(max("p_partkey")).head().getLong(0) + 1L
    val bigPart = (0 until mult).map { i =>
      partBase.select((col("p_partkey") + lit(i.toLong * pkStride)).as("p_partkey"),
        col("p_retailprice"), col("p_size"))
    }.reduce(_ unionAll _)
    val skyBase = timed("skyline_base") {
      graft.operators.RelOps.skyline2d(partBase, "p_partkey", "p_retailprice", "p_size")
        .collect().map(r => (r.getDouble(1), r.getLong(2)))
    }
    val skyBig = timed("skyline_xN") {
      graft.operators.RelOps.skyline2d(bigPart, "p_partkey", "p_retailprice", "p_size")
        .collect().map(r => (r.getDouble(1), r.getLong(2)))
    }
    assert(skyBig.length == mult * skyBase.length &&
      skyBig.toSet == skyBase.toSet,
      s"skyline must be duplication-invariant: ${skyBase.length} x$mult != ${skyBig.length}")

    // k-core: offsetting BOTH orderkey and partkey builds N DISJOINT
    // copies of the co-purchase graph — the peel fixpoint of the union is
    // the union of fixpoints, each copy bit-identical to the base (all
    // copies peel in the same rounds, in parallel).
    val kcBase = timed("kcore_base") {
      graft.operators.RelOps.kcore(li, 2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val liPkStride = li.agg(max("l_partkey")).head().getLong(0) + 1L
    val bigLiDisjoint = (0 until mult).map { i =>
      li.select((col("l_orderkey") + lit(i.toLong * okStride)).as("l_orderkey"),
        (col("l_partkey") + lit(i.toLong * liPkStride)).as("l_partkey"))
    }.reduce(_ unionAll _)
    val kcBig = timed("kcore_xN") {
      graft.operators.RelOps.kcore(bigLiDisjoint, 2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val kcExpected = (0 until mult).flatMap { i =>
      kcBase.map { case (p, deg) => (p + i.toLong * liPkStride, deg) }
    }.toSet
    assert(kcBig == kcExpected,
      s"kcore must decompose disjoint copies independently (${kcBase.size} x$mult != ${kcBig.size})")

    // containment: exact-copy corpora turn every doc into an ov-1.0
    // clique; between-group pairs multiply ×N² and each group adds
    // C(N,2) internal pairs — the closed form the expansion must hit
    // EXACTLY (any deviation means candidates were lost or fabricated).
    val ovBase = timed("containment_base") {
      DedupOps.overlapPairsPrefix(docs, 0.9).count()
    }
    // docs is already the ×N corpus; recompute the base (×1) relation
    val docs1 = base
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions.shingles(col("tk"), 3)).as("sh"))
    val ov1 = DedupOps.overlapPairsPrefix(docs1, 0.9).count()
    val nBaseDocs = docs1.count()
    assert(ovBase == mult.toLong * mult * ov1 +
      nBaseDocs * (mult.toLong * (mult - 1) / 2),
      s"containment pair algebra: $ovBase != $mult²·$ov1 + C($mult,2)·$nBaseDocs")

    // bloom delta dedup: the sketch path must stay EXACT on the
    // multiplied corpus — equal, row for row, to the bloom-free join.
    timed("bloom_delta_xN") {
      val bigDocs = (0 until mult).map { i =>
        base.select((col("doc_id") + lit(i.toLong * docStride)).as("doc_id"),
          col("text"))
      }.reduce(_ unionAll _)
      val got = DedupOps.bloomDeltaChunkDedup(bigDocs, col("doc_id") % 5 === 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val chunked = DedupOps.chunks20(bigDocs)
      val b0 = chunked.filter(col("doc_id") % 5 =!= 3).select("chunk").distinct()
      val d0 = chunked.filter(col("doc_id") % 5 === 3)
      val exact = d0.groupBy("doc_id").agg(count(lit(1)).as("nc"))
        .join(d0.join(b0, Seq("chunk"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("nd")), Seq("doc_id"), "left")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))).toSet
      assert(got == exact, "bloom path diverged from the exact join at xN")
      got.size
    }

    // partial-agg merge: duplicating every event ×N (fresh event_ids, so
    // the slice assignment reshuffles arbitrarily) must give n×N, sums×N,
    // identical min/max/mean6, and varq×N² — the merge is provably
    // slice-assignment-independent, which is the whole point of algebraic
    // state. The partial/final sums themselves stay in int64 (the gate's
    // representation), but the varq INVARIANT n·Σv² − (Σv)² is computed in
    // decimal(38,0): n·ss grows ×N² under duplication, so any fixed int64
    // quantization eventually overflows (×64 did, at q100) while the
    // algebra identity itself is exact at any width.
    timed("partial_agg_merge_xN") {
      val ev = Tables.events(spark, sfDir)
      val eidStride = ev.agg(max("event_id")).head().getLong(0) + 1L
      def census(e: DataFrame): Seq[(String, Long, Long, Long, Long, Long, Long, BigDecimal)] = {
        val q = e.select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("v"),
          pmod(col("event_id"), lit(16)).as("slice"))
        q.groupBy("event_type", "slice")
          .agg(count(lit(1)).as("pn"), sum("v").as("ps"),
            sum(col("v") * col("v")).as("pss"),
            min("v").as("pmn"), max("v").as("pmx"))
          .groupBy("event_type")
          .agg(sum("pn").as("n"), sum("ps").as("s"), sum("pss").as("ss"),
            min("pmn").as("mn"), max("pmx").as("mx"))
          .select(col("event_type"), col("n"), col("s"), col("ss"),
            col("mn"), col("mx"), expr("(s * 1000) div n").as("mean6"),
            (col("n").cast("decimal(38,0)") * col("ss").cast("decimal(38,0)") -
              col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("varq"))
          .orderBy("event_type")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
            BigDecimal(r.getDecimal(7))))
          .toSeq
      }
      val baseC = census(ev)
      val bigE = (0 until mult).map { i =>
        ev.select((col("event_id") + lit(i.toLong * eidStride)).as("event_id"),
          col("event_type"), col("value"))
      }.reduce(_ unionAll _)
      val bigC = census(bigE)
      val expected = baseC.map { case (t, n, s, ss, mn, mx, m6, vq) =>
        (t, n * mult, s * mult, ss * mult, mn, mx, m6, vq * mult * mult)
      }
      assert(bigC == expected, s"merge algebra broke at xN: $bigC vs $expected")
      bigC.length
    }

    // ABC classes: duplicating every lineitem row ×N (same part keys)
    // multiplies every part's revenue AND the grand total by N, so the
    // cumulative SHARES — and therefore every class label — are
    // invariant while rev/cum scale exactly ×N. Proves the sum-prefix
    // offset machinery is duplication-exact, not just order-correct.
    timed("abc_classes_xN") {
      val liRev = Tables.lineitem(spark, sfDir)
        .select("l_partkey", "l_extendedprice")
      val bigRev = (0 until mult).map(_ => liRev).reduce(_ unionAll _)
      val baseAbc = graft.operators.RelOps.abcClasses(liRev).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      val bigAbc = graft.operators.RelOps.abcClasses(bigRev).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      val expected = baseAbc.map { case (p, (r, c, cls)) =>
        p -> (r * mult, c * mult, cls)
      }
      assert(bigAbc == expected, "ABC labels must be duplication-invariant")
      bigAbc.size
    }

    // trigram search: key-offset part copies with identical names must
    // multiply the match set exactly ×N — candidate generation through
    // the inverted trigram relation cannot lose or fabricate a copy.
    timed("trigram_xN") {
      val baseHits = SparkEntry.queries("part_trigram_search")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val expected = (0 until mult).flatMap { i =>
        baseHits.map { case (k, n) => (k + i.toLong * pkStride, n) }
      }.toSet
      // the SHIPPED pipeline (RelOps.trigramSearch) over a key-offset
      // multiplied part relation rebuilt with names (the skyline leg's
      // copies carry only the price/size projection)
      val namedBase = Tables.part(spark, sfDir).select("p_partkey", "p_name")
      val parts = (0 until mult).map { i =>
        namedBase.select(
          (col("p_partkey") + lit(i.toLong * pkStride)).as("p_partkey"),
          col("p_name"))
      }.reduce(_ unionAll _)
      val got = graft.operators.RelOps.trigramSearch(parts, "gear")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expected, "trigram matches must scale exactly with the corpus")
      got.size
    }

    // pagerank: the ×N graph is N disjoint node-offset copies of the base
    // graph. Copy ranks do NOT equal base ranks (teleport and the initial
    // rank divide by the TOTAL node count, and integer floor-division
    // makes the 1/N scaling inexact) — but the copies are symmetric, so
    // every copy's offset-normalized (node, rank12) set must equal copy
    // 0's EXACTLY (integer fixed-point — no tolerance). Wall time should
    // scale ~linearly with edges (joins + partial aggregates over the
    // pre-partitioned edge cache; round 8). The base leg is the timing
    // reference.
    {
      import graft.operators.RelOps
      val e0 = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val baseEdges = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      val nodeStride = baseEdges
        .agg(greatest(max("src"), max("dst"))).head().getLong(0) + 1L
      val prBaseN = timed("pagerank_base") {
        RelOps.pageRankRanks(baseEdges).count()
      }
      val bigEdges = (0 until mult).map { i =>
        baseEdges.select(
          (col("src") + lit(i.toLong * nodeStride)).as("src"),
          (col("dst") + lit(i.toLong * nodeStride)).as("dst"))
      }.reduce(_ unionAll _)
      val prBig = timed("pagerank_xN") {
        RelOps.pageRankRanks(bigEdges).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      val byCopy = prBig.groupBy { case (n, _) => n / nodeStride }
        .map { case (c, rs) =>
          c -> rs.map { case (n, r) => (n % nodeStride, r) }.toSet
        }
      assert(byCopy.size == mult &&
        byCopy.values.forall(_ == byCopy(0L)) &&
        byCopy(0L).size == prBaseN,
        s"pagerank copies must rank identically (${byCopy.size} copies, base=$prBaseN)")
    }

    // Pattern-mining leg (round 13): both template miners over a
    // MILLION synthetic lines against closed forms. The drain
    // construction's only corpus-sized pass is the token explode; its
    // first exchange ships (shape, pos) extrema — here 2 shapes × ≤8
    // positions regardless of row count — so the wall should be the
    // scan+explode, never the shuffle. Exact template strings and
    // counts are closed-form, so a grouping or agreement bug at any
    // scale shifts them.
    {
      val n = 1000000L
      // numeric tokens exercise the class MASK; the via-token (3 string
      // values the mask can't classify) exercises LEARNED variability
      val via = when(pmod(col("id"), lit(3)) === 0, lit("alpha"))
        .when(pmod(col("id"), lit(3)) === 1, lit("beta"))
        .otherwise(lit("gamma"))
      val lines = spark.range(n).select(
        when(col("id") % 2 === 0,
          concat(lit("GET /item "), col("id").cast("string"), lit(" took "),
            pmod(col("id"), lit(977)).cast("string"), lit(" ms via "), via))
          .otherwise(lit("healthcheck ok")).as("line"))
      val drain = timed("drain_templates_1m") {
        graft.operators.ConnectorOps.drainTemplates(lines)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      }
      // the class mask runs first (Drain preprocessing) and unifies the
      // numeric positions to <num>; the via-token still varies after
      // masking, so it alone is LEARNED as <*>
      assert(drain == Set(
        ("GET /item <num> took <num> ms via <*>", n / 2),
        ("healthcheck ok", n / 2)), s"drain templates at 1m: $drain")
      val pats = timed("log_patterns_1m") {
        lines.select(
          graft.operators.ConnectorOps.logTemplate(col("line")).as("template"))
          .groupBy("template").agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      }
      // the static miner can't learn: the via-token stays literal, so
      // the census has one template per via value. Even ids with
      // id%3==r are exactly the ids ≡ c (mod 6) for c = 0/4/2
      // (alpha/beta/gamma), so each count is ceil((n−c)/6).
      def cnt6(c: Long): Long = (n - c + 5) / 6
      assert(pats == Set(
        ("GET /item <num> took <num> ms via alpha", cnt6(0)),
        ("GET /item <num> took <num> ms via beta", cnt6(4)),
        ("GET /item <num> took <num> ms via gamma", cnt6(2)),
        ("healthcheck ok", n / 2)), s"log patterns at 1m: $pats")
      println("[scale] template mining 1m OK (2 shapes, closed-form counts)")
    }

    // Connector leg (round 12): a MILLION-row stub corpus scanned through
    // the full 100 TB read shape at once — sliced (partitions=8) ×
    // paged (query_limit=2000, so each slice walks ~60 forward pages) ×
    // columnar (the paged vector decoder) — against closed forms: row
    // count N and Σ id = N(N−1)/2 parsed back out of the line payload,
    // so a dropped/duplicated row anywhere in the cursor/slice/decode
    // stack shifts the checksum. Bursts of 4 rows per shared ns exercise
    // the held-back max-ts-run on virtually every page cut.
    {
      import graft.sources.loki.testkit.LokiStubServer
      val stub = new LokiStubServer
      stub.start()
      try {
        val n = 1000000
        val base = 1704067200000000000L
        val labels = Map("app" -> "scale") // shared instance: 1M rows
        timed("connector_seed_1m") {
          stub.seed((0 until n).map(i =>
            stub.LogRow(base + (i / 4).toLong * 1000000L, labels, s"v=$i")))
        }
        val scan = spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .option("partitions", "8")
          .option("query_limit", "2000")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
        val plan = scan.queryExecution.executedPlan.toString
        assert(plan.contains("ColumnarToRow") && plan.contains("page_size=2000"),
          s"scan must be paged AND columnar:\n$plan")
        val (cnt, sumV) = timed("connector_1m_scan") {
          val r = scan
            .select(substring(col("line"), 3, 10).cast("long").as("v"))
            .agg(count(lit(1)), sum("v")).head()
          (r.getLong(0), r.getLong(1))
        }
        assert(cnt == n.toLong && sumV == n.toLong * (n - 1) / 2,
          s"sliced×paged×columnar scan: got ($cnt, $sumV), " +
            s"want ($n, ${n.toLong * (n - 1) / 2})")
        println(s"[scale] connector 1m sliced×paged×columnar OK (rows=$cnt)")

        // Metric-pushdown leg (round 14): the SAME million-row corpus
        // aggregated by minute bucket through the LokiMetricAggRule
        // rewrite — the server evaluates count_over_time and ships 5
        // samples instead of 1M rows. Closed form: 4 rows/ms × 60 s =
        // 240k per full minute bucket, 40k in the final partial one.
        val metricDf = spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-01 00:05:00").cast("timestamp"))
          .groupBy(date_trunc("minute", col("timestamp")).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("bucket")
        assert(metricDf.queryExecution.executedPlan.toString
          .contains("LokiMetricScan"),
          "1m metric aggregate must push as a metric query")
        val buckets = timed("connector_1m_metric") {
          metricDf.collect().map(r => r.getLong(1)).toSeq
        }
        assert(buckets == Seq(240000L, 240000L, 240000L, 240000L, 40000L),
          s"metric bucket counts: $buckets")
        println(s"[scale] connector 1m metric pushdown OK (buckets=$buckets)")

        // Parser-stage leg (round 15): the SAME million-row corpus
        // filtered by a PARSED logfmt field server-side — the `| logfmt
        // gp0="v" | gp0=~…` stages ride the wire, so only matching rows
        // cross it (at 100 TB the difference between shipping the
        // firehose and shipping the answer). Closed form: ids whose
        // decimal text starts with "99" — 1+10+100+1000+10000 = 11111
        // rows with a directly computable Σ.
        val parsed = spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            graft.functions.GraftFunctions
              .logfmt_get(col("line"), lit("v")).rlike("^99") &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
        val pplan = parsed.queryExecution.executedPlan.toString
        assert(pplan.contains("""| logfmt gp0="v" | gp0=~"""),
          s"parsed-field filter must push as pipeline stages:\n$pplan")
        val (pCnt, pSum) = timed("connector_1m_parsed_filter") {
          val r = parsed
            .select(substring(col("line"), 3, 10).cast("long").as("v"))
            .agg(count(lit(1)), sum("v")).head()
          (r.getLong(0), r.getLong(1))
        }
        // range arithmetic, not a scan: Σ over 99, 990-999, …, 990000-999999
        val wantCnt = Seq(1, 10, 100, 1000, 10000).map(_.toLong).sum
        val wantSum = Seq((99L, 99L), (990L, 999L), (9900L, 9999L),
          (99000L, 99999L), (990000L, 999999L))
          .map { case (a, b) => (a + b) * (b - a + 1) / 2 }.sum
        assert(pCnt == wantCnt && pSum == wantSum,
          s"parsed pushdown: got ($pCnt, $pSum), want ($wantCnt, $wantSum)")
        // the metric rewrite composes with the parsed predicate: first
        // minute (ids 0..239999), ids starting with "1" = 111111
        val parsedMetric = spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            graft.functions.GraftFunctions
              .logfmt_get(col("line"), lit("v")).rlike("^1") &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-01 00:01:00").cast("timestamp"))
          .groupBy(date_trunc("minute", col("timestamp")).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val pmPlan = parsedMetric.queryExecution.executedPlan.toString
        assert(pmPlan.contains("LokiMetricScan") &&
          pmPlan.contains("""| logfmt gp0="v" | gp0=~"""),
          s"parsed metric must push stages inside count_over_time:\n$pmPlan")
        val pmCnt = timed("connector_1m_parsed_metric") {
          parsedMetric.head().getLong(1)
        }
        assert(pmCnt == 111111L, s"parsed metric count: $pmCnt")
        println(s"[scale] connector 1m parser-stage pushdown OK " +
          s"(filter=$pCnt rows, metric=$pmCnt)")

        // Pattern line-filter leg (round 16): the Loki 3.x `|>` filter
        // over the SAME million rows — `v=99<_>` anchors the prefix and
        // wildcards the rest, selecting exactly the ids whose decimal
        // text starts with "99" (the parsed leg's closed form) with a
        // plain LINE filter: no parser stage, no extraction, the
        // cheapest wire shape there is.
        val patterned = spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            graft.functions.GraftFunctions
              .loki_pattern_match(col("line"), lit("v=99<_>")) &&
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-02-01 00:00:00").cast("timestamp"))
        val patPlan = patterned.queryExecution.executedPlan.toString
        assert(patPlan.contains("|> `v=99<_>`"),
          s"pattern line filter must push:\n$patPlan")
        val (patCnt, patSum) = timed("connector_1m_pattern_filter") {
          val r = patterned
            .select(substring(col("line"), 3, 10).cast("long").as("v"))
            .agg(count(lit(1)), sum("v")).head()
          (r.getLong(0), r.getLong(1))
        }
        assert(patCnt == wantCnt && patSum == wantSum,
          s"pattern filter: got ($patCnt, $patSum), want ($wantCnt, $wantSum)")
        println(s"[scale] connector 1m pattern line filter OK (rows=$patCnt)")

        // Unwrapped-metric leg (round 16): numeric aggregation over the
        // parsed field by minute bucket — avg_over_time ships FIVE float
        // samples for the 1M-row window. Closed form: bucket m holds ids
        // [240000m, 240000(m+1)) (partial last bucket 960k..999999), so
        // avg = (lo + hi)/2 exactly — integer-valued double sums are
        // accumulation-order-independent, the unwrap corpus discipline.
        val unwrapped = spark.read.format("loki")
          .option("endpoint", stub.endpoint)
          .option("default_label", "app")
          .load()
          .filter(
            col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
            col("timestamp") < lit("2024-01-01 00:05:00").cast("timestamp"))
          .groupBy(date_trunc("minute", col("timestamp")).as("bucket"))
          .agg(avg(graft.functions.GraftFunctions.loki_unwrap(
            graft.functions.GraftFunctions
              .logfmt_get(col("line"), lit("v")))).as("avg_v"))
          .orderBy("bucket")
        val uwPlan = unwrapped.queryExecution.executedPlan.toString
        assert(uwPlan.contains("avg_over_time(") &&
          uwPlan.contains("| unwrap gp0 | __error__=\"\""),
          s"unwrap metric must push as avg_over_time:\n$uwPlan")
        val avgs = timed("connector_1m_unwrap_metric") {
          unwrapped.collect().map(_.getDouble(1)).toSeq
        }
        val wantAvgs = (0 until 4).map(m =>
          (240000.0 * m + (240000.0 * (m + 1) - 1)) / 2.0) :+
          ((960000.0 + 999999.0) / 2.0)
        assert(avgs == wantAvgs, s"unwrap metric avgs: $avgs vs $wantAvgs")
        println(s"[scale] connector 1m unwrap metric OK (avgs=$avgs)")

        // Streaming-tail leg (round 13): the SAME million-row corpus
        // drained through the micro-batch reader — admission-controlled
        // (max_rows_per_batch=200k → ~5 stats-bisected windows), each
        // batch walking paged columnar reads, with a pushed selector on
        // the wire — against the same closed-form checksums. A window
        // gap/overlap between batches, a paging cursor slip inside one,
        // or a selector that silently widened all shift Σ id.
        val ck = java.nio.file.Files
          .createTempDirectory("graft_scale_tail_ck").toFile
        // hook, not post-assert inline delete: a failed gate must not
        // leak the checkpoint dir
        sys.addShutdownHook(graft.streaming.StreamingOps.rmrf(ck))
        val (tailCnt, tailSum) = timed("connector_1m_tail") {
          val q = spark.readStream.format("loki")
            .option("endpoint", stub.endpoint)
            .option("selector", """{app="scale"}""")
            .option("stream_start_ns", base.toString)
            .option("stream_end_ns", (base + (n / 4).toLong * 1000000L).toString)
            .option("query_limit", "2000")
            .option("max_rows_per_batch", "200000")
            .load()
            .select(substring(col("line"), 3, 10).cast("long").as("v"))
            .writeStream.format("memory").queryName("scale_tail")
            .option("checkpointLocation", ck.getAbsolutePath)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val r = spark.table("scale_tail")
            .agg(count(lit(1)), sum("v")).head()
          (r.getLong(0), r.getLong(1))
        }
        assert(tailCnt == n.toLong && tailSum == n.toLong * (n - 1) / 2,
          s"tail drain: got ($tailCnt, $tailSum), " +
            s"want ($n, ${n.toLong * (n - 1) / 2})")
        println(s"[scale] connector 1m micro-batch tail OK (rows=$tailCnt)")
      } finally stub.stop()
    }

    // LIVE-tail leg (round 14): the stub INGESTS CONCURRENTLY with an
    // OPEN tail (no stream_end_ns) — the mode the bounded-replay gates
    // cannot reach. `stream_lag_ms=2000` is the visibility contract:
    // each trigger's end offset trails wall clock by 2 s, so a row
    // seeded at wall time T is queryable long before any window
    // covering T is read (seed visibility is instant here; a real
    // ingest pipeline sizes the lag to its p99 delay — a row that lands
    // later than the lag is the documented event-time-tailing miss).
    // Post-hoc ingest truth: N rows with v = 0..N−1 → count, distinct
    // count (a window overlap would double-read) and Σv must all hit
    // their closed forms; and the recorded wire windows must CHAIN
    // exactly (each batch's start == the previous batch's end) — the
    // offset-disjointness claim read straight off the wire log.
    {
      import graft.sources.loki.testkit.LokiStubServer
      val stub = new LokiStubServer
      stub.start()
      val ck = java.nio.file.Files
        .createTempDirectory("graft_scale_live_ck").toFile
      sys.addShutdownHook(graft.streaming.StreamingOps.rmrf(ck))
      try {
        val n = 1000000
        val batches = 20
        val per = n / batches
        val labels = Map("app" -> "live")
        val t0 = System.currentTimeMillis() * 1000000L
        val q = spark.readStream.format("loki")
          .option("endpoint", stub.endpoint)
          .option("selector", """{app="live"}""")
          .option("stream_start_ns", t0.toString)
          .option("stream_lag_ms", "2000")
          .load()
          .select(substring(col("line"), 3, 10).cast("long").as("v"))
          .writeStream.format("memory").queryName("scale_live")
          .option("checkpointLocation", ck.getAbsolutePath)
          .outputMode("append")
          .start()
        val drained = timed("connector_1m_live_tail") {
          (0 until batches).foreach { b =>
            val now = System.currentTimeMillis() * 1000000L
            stub.seed((0 until per).map { j =>
              // distinct ns inside the chunk; all ≥ now, i.e. ahead of
              // every already-planned (lag-trailed) window
              stub.LogRow(now + j, labels, s"v=${b * per + j}")
            })
            Thread.sleep(100)
          }
          // drain: the final chunk becomes readable once the lag passes
          val deadline = System.nanoTime() + 180L * 1000000000L
          var cnt = 0L
          while (cnt < n && System.nanoTime() < deadline) {
            Thread.sleep(250)
            cnt = spark.table("scale_live").count()
          }
          cnt
        }
        val r = spark.table("scale_live")
          .agg(count(lit(1)), count_distinct(col("v")), sum("v")).head()
        assert(r.getLong(0) == n.toLong && r.getLong(1) == n.toLong &&
          r.getLong(2) == n.toLong * (n - 1) / 2,
          s"live tail: got (${r.getLong(0)}, distinct ${r.getLong(1)}, " +
            s"sum ${r.getLong(2)}), want ($n, $n, ${n.toLong * (n - 1) / 2}); " +
            s"drained=$drained")
        q.stop()
        q.awaitTermination()
        val wins = stub.ranges.synchronized(stub.ranges.toList)
          .collect { case (lq, Some(s0), Some(e0))
            if lq.startsWith("""{app="live"}""") => (s0, e0) }
          .sortBy(_._1)
        wins.sliding(2).foreach {
          case List((_, e1), (s2, _)) =>
            assert(s2 == e1,
              s"tail windows not contiguous: prev end $e1, next start $s2")
          case _ =>
        }
        assert(wins.nonEmpty && wins.head._1 == t0,
          s"first window must anchor at stream_start_ns: ${wins.headOption}")
        println(s"[scale] connector 1m LIVE concurrent-ingest tail OK " +
          s"(rows=${r.getLong(0)}, batches=${wins.size})")
      } finally stub.stop()
    }

    println("[scale] OK: exact paths agree")
    spark.stop()
  }
}
