package graft

import org.apache.spark.sql.functions._

/** Scale-stress probe: synthesizes a corpus ~100× the largest fixture
  * (default 505k documents ≈ 180 MB of text — 500k distinct token-salad
  * docs + 5k planted exact duplicates) and times the hot pipeline
  * operators on it. The fixture SFs verify correctness; this main is the
  * evidence that the operator SHAPES hold when the data grows two orders
  * of magnitude: candidate volume stays pair-proportional (planted dups
  * only), aggregates stay map-side combined, narrow ops stay narrow.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [nDocs]"` — prints one JSON line
  * of per-stage seconds plus invariant checks (dup pairs found == planted).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // deterministic token salad: 40 unique-ish 8-hex tokens per doc
    val toks = (0 until 40).map(j =>
      substring(md5(concat(col("id").cast("string"), lit(s":$j"))), 1, 8))
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", toks: _*).as("text"))
    val planted = base.filter(col("doc_id") < 5000)
      .select((col("doc_id") + n).as("doc_id"), col("text"))
    val corpus = base.unionAll(planted).localCheckpoint(true)
    val total = corpus.count()

    def time[A](name: String)(f: => A): (String, Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name: $s%.1f s")
      (name, s, r)
    }

    // shared by the three embedding legs: deterministic zero-centered
    // 64-dim vectors where ids ≥ n are bit-identical clones of id % n
    val vecExpr = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(xxhash64(col("vec_id") % n, j), lit(2000L)) - 1000L)
        .cast("double") / 1000.0).cast("float"))
    // closed-form far-away cluster shared by the two quantizer-drift legs
    // (ivf_retrain_cycle, ivfpq_build_search) — ONE definition, so both
    // gates provably test the same geometry
    def farVecExpr(asFloat: Boolean) =
      transform(sequence(lit(0), lit(63)), j => {
        val v = lit(25.0) + (col("id") % 7).cast("double") * 0.3 +
          j.cast("double") * 0.01
        if (asFloat) v.cast("float") else v
      })
    def farQuery(id: Long): Map[Long, Array[Double]] =
      Map(id -> Array.tabulate(64)(j => 25.0 + (id % 7) * 0.3 + j * 0.01))
    val eidxPath = Scratch.dir("scale_eidx")
    val cidxPath = Scratch.dir("scale_cidx")
    val mhidxPath = Scratch.dir("scale_idx")

    val stages = Seq(
      time("exact_dedup") {
        graft.operators.Dedup.exact(corpus, "doc_id", Seq("text")).count()
      },
      time("minhash_pairs") {
        graft.operators.Dedup.minHashPairs(corpus, "doc_id", "text").count()
      },
      time("langid") {
        corpus.select(graft.operators.TextAnalysis.langId(col("text")).as("lang"))
          .groupBy("lang").count().count()
      },
      time("token_stats") {
        corpus.select(graft.operators.TextAnalysis.tokenCountColumns(col("text")): _*)
          .agg(sum("ws_tokens")).collect().length.toLong
      },
      time("hash_split") {
        graft.operators.Sampling.hashSplit(corpus, "doc_id", 0.9)
          .groupBy("split").count().count()
      },
      time("global_ids") {
        graft.operators.Indexing.globalIds(corpus, Seq("doc_id")).count()
      },
      time("budget_trim") {
        graft.operators.Sampling.budgetTrim(
          corpus.withColumn("len", length(col("text"))),
          Seq(col("len").desc, col("doc_id")), "len", 50000000L).count()
      },
      time("index_build") {
        // pay-once: materialize the persistent band-bucket index for the
        // whole corpus (the LAST full signature pass it ever needs)
        graft.operators.DedupIndex.build(corpus, "doc_id", "text",
          mhidxPath, "scale_mhidx", shingleN = 3, numHashes = 64, bands = 16,
          buckets = 32).indexedDocs()
      },
      time("index_probe_batch") {
        // per-batch: 5k NEW docs (clones of corpus docs 10000..14999 under
        // fresh ids) probed against the stored index — only the batch is
        // hashed; the corpus contributes a bucketed columnar scan
        val idx = graft.operators.DedupIndex.open(spark, "scale_mhidx",
          mhidxPath)
        val batch = base.filter(col("doc_id") >= 10000 && col("doc_id") < 15000)
          .select((col("doc_id") + 10 * n).as("doc_id"), col("text"))
        idx.probe(batch, "doc_id", "text", threshold = 0.9).count()
      },
      time("cross_jaccard_screen") {
        // R-S contamination screen at scale: a 5k "benchmark" batch of
        // clones (sources 20000-24999, disjoint from the 0-4999 planted
        // clone block) screened against the 500k base — exactly one
        // cross pair per batch doc, and the candidate join is
        // prefix×prefix on union-df order, never 500k×5k
        val batch = base.filter(col("doc_id") >= 20000 && col("doc_id") < 25000)
          .select((col("doc_id") + 20L * n).as("doc_id"), col("text"))
        graft.operators.Dedup.crossJaccardPairs(
          base, batch, "doc_id", "text", shingleN = 3, threshold = 0.8).count()
      },
      time("selfdedup_hot_gram") {
        // hot-gram skew leg: one 8-token phrase planted in 20% of docs
        // makes a single gram-hash group ~n/5-sized in BOTH the
        // first-owner agg and the owner join. The join cannot multiply
        // (build side is one row per gram), so the worst case is a
        // straggler task — this leg proves the shape completes at 505k
        // docs and strips exactly the planted phrase: every carrier but
        // the first owner loses its 8-token suffix (boundary grams mix
        // unique tokens, so only the pure phrase repeats corpus-wide).
        val hot = lit(" the quick brown fox jumps over the dog")
        val salted = base.select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), hot))
            .otherwise(col("text")).as("text"))
        graft.operators.TextAnalysis
          .removeRepeatedSpans(salted, "doc_id", "text", k = 8).count()
      },
      time("srp_embedding_pairs") {
        // the shared vector corpus + its 5k planted clone dups
        val vecs = spark.range(n + 5000)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
          .localCheckpoint(true)
        // DEFAULTS on purpose: the auto-derived geometry (Lsh.autoPlanes /
        // autoTables from the corpus count) must survive this 100x leg on
        // its own — the fixed 8-bit width the defaults replaced was this
        // probe's original finding (~2B candidate pairs, heap death).
        // Planted dups are bit-identical vectors, so recall is exactly 1
        // regardless of the derived geometry.
        graft.operators.Dedup.embeddingPairs(
          vecs, "vec_id", "embedding", dim = 64, threshold = 0.999).count()
      },
      time("quality_model_train_score") {
        // sample-bounded training (20k of 505k docs by id-hash rate),
        // corpus-wide narrow scoring. The salad corpus is the hashing
        // trick's worst case — ~20M distinct tokens (each md5-derived
        // token appears ~once), so dims must scale with vocabulary: at
        // 2^20 buckets, ~40·n/2^20 ≈ 20 token occurrences collide with
        // the marker's bucket and can flip their (held-out, label-0)
        // docs. The gate bounds mismatches at 3× that incidence; exact
        // 0/1 recovery belongs to the realistic small-vocab fixtures
        // (QualityModelSpec, text_quality_model at sf0.01/sf0.1).
        val labeled = base.select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" qualmark"))).otherwise(col("text"))
            .as("text"),
          (col("doc_id") % 3 === 0).cast("int").as("label"))
          .localCheckpoint(true)
        val m = graft.operators.QualityModel.train(
          labeled, "doc_id", "text", "label", dims = 1 << 20,
          sampleSize = 20000, baseCount = n)
        graft.operators.QualityModel.score(labeled, "doc_id", "text", m)
          .filter(col("pred") =!= (col("doc_id") % 3 === 0).cast("int"))
          .count() // mismatches — collision-bounded gate below
      },
      time("semantic_dedup_pairs") {
        // SemDeDup at 100x: auto-k (⌈505k/1024⌉ = 494 clusters) scopes the
        // pair search to within-cluster candidates — ~n·1024/2 cosine
        // verifications instead of n²/2. Planted dups are bit-identical
        // vectors, so they co-assign whatever Lloyd converged to and
        // recall is exactly 1; random salads never reach 0.999, so the
        // leg gates on pairs == exactly the 5k planted.
        val vecs = spark.range(n + 5000)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
          .localCheckpoint(true)
        val c = graft.operators.Dedup.semanticPairs(
          vecs, "vec_id", "embedding", threshold = 0.999,
          baseCount = n + 5000).count()
        graft.operators.Dedup.releaseCaches()
        c
      },
      time("components_index_update") {
        // incremental components at scale: the corpus's 5k planted clone
        // pairs arrive in two waves; per-update driver state is
        // batch-bounded (the endpoint/root maps), never corpus-sized
        val pairs = spark.range(5000)
          .select(col("id").as("i"), (col("id") + n).as("j"))
        val cidx = graft.operators.ComponentsIndex.build(
          pairs.filter(col("i") < 2500), cidxPath, "scale_cidx", buckets = 32)
        cidx.update(pairs.filter(col("i") >= 2500))
        val labels = cidx.assignments()
        labels.select("comp").distinct().count() * 1000000 + labels.count()
      },
      time("components_index_compact") {
        // maintenance at scale: fold the accumulated remap into the
        // baseline — the rewrite is one bucketed pass over assignments;
        // labels must be IDENTICAL after (count invariant below)
        val cidx = graft.operators.ComponentsIndex.open(
          spark, "scale_cidx", cidxPath)
        val labels = cidx.compact(s"$cidxPath-v2").assignments()
        labels.select("comp").distinct().count() * 1000000 + labels.count()
      },
      time("embed_index_build") {
        // pay-once for the embedding index: key + materialize all 505k
        // base vectors as the bucketed tables (the vector twin of
        // index_build)
        val baseVecs = spark.range(n)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
        graft.operators.EmbedIndex.build(baseVecs, "vec_id", "embedding",
          eidxPath, "scale_eidx", dim = 64, threshold = 0.999, buckets = 32)
          .indexedVectors()
      },
      time("embed_index_probe_batch") {
        // per-batch: 5k clone vectors (ids n.. are bit-identical copies of
        // 0..4999) probed against the stored index — only the batch is
        // keyed; the corpus contributes bucketed columnar scans
        val idx = graft.operators.EmbedIndex.open(spark, "scale_eidx", eidxPath)
        val batch = spark.range(n, n + 5000)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
        idx.probe(batch, "vec_id", "embedding", threshold = 0.999).count()
      },
      time("embed_index_append_delete_probe") {
        // maintenance at scale: fold the 5k clone batch in (append with
        // its idempotence guard — one anti-join against the bucketed
        // vectors table), retract half of it (anti-join rewrite of both
        // tables), then probe a FRESH clone batch through the maintained
        // index. Pairs stay pair-proportional: each fresh clone of k
        // matches base k (5000) plus the SURVIVING appended clone for
        // k >= 2500 (2500) = 7500 — the count invariant below is the
        // gate, the seconds are trend data.
        val idx = graft.operators.EmbedIndex.open(spark, "scale_eidx", eidxPath)
        val batch = spark.range(n, n + 5000)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
        idx.append(batch, "vec_id", "embedding")
        val deleted = idx.delete(
          spark.range(n, n + 2500).select(col("id").as("vec_id")),
          "vec_id", s"$eidxPath-v2")
        val fresh = spark.range(2 * n, 2 * n + 5000)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
        deleted.probe(fresh, "vec_id", "embedding", threshold = 0.999).count()
      },
      time("ivf_retrain_cycle") {
        // quantizer-drift maintenance at scale: build+save IVF over the
        // 505k vector corpus, verify the fresh baseline reads quiet,
        // append a 50k far-away cluster (~9% of the corpus at distance
        // ~25 per dim — three orders of magnitude past the in-space
        // quantization error), REQUIRE the observed-drift check to trip,
        // retrain from the stored vectors, and REQUIRE the refreshed
        // baseline to read quiet again. Gate: a query from the shifted
        // cluster at nprobe=1 finds only shifted neighbors — the far
        // cluster owns (at least) a centroid of its own after retrain.
        val ivfPath = Scratch.dir("scale_ivf")
        val baseVecs = spark.range(n)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
        val ivf = graft.operators.Similarity.IvfIndex.build(
          spark, baseVecs, "vec_id", "embedding", nClusters = 32)
        graft.operators.Similarity.IvfIndex.save(ivf, "scale_ivf",
          s"$ivfPath/v1", buckets = 32)
        val opened = graft.operators.Similarity.IvfIndex.open(
          spark, "scale_ivf", s"$ivfPath/v1")
        require(!opened.needsRetrain(),
          "a just-saved 505k IVF must not want a retrain")
        val shifted = spark.range(3 * n, 3 * n + 50000)
          .select(col("id").as("vec_id"), farVecExpr(asFloat = false).as("embedding"))
        opened.append(shifted, "vec_id", "embedding")
        require(opened.needsRetrain(),
          "a 9% far-away cluster must trip the 505k drift check")
        val retrained = opened.retrain(s"$ivfPath/v2")
        require(!retrained.needsRetrain(),
          "a just-retrained 505k IVF must not want another retrain")
        retrained.search(farQuery(3 * n), k = 10, nprobe = 1)
          .filter(col("neighbor_id") >= 3 * n).count()
      },
      time("bm25_index_search") {
        // lexical index at scale: plant a common term in 2% of docs and a
        // rare term in 5, build the postings index on 90% of the corpus,
        // fold the other 10% in through the guarded append (which holds
        // every rare-term doc — appended docs must be fully searchable),
        // then search both terms. The rare term's df=5 idf dominates, so
        // the 5 rare-term docs must all sit in the top-10 — the gate;
        // the pruned-bucket scan shape is pinned by Bm25IndexSpec.
        val bmPath = Scratch.dir("scale_bm25")
        val salted = base.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 50 === 0, lit(" bmcommon")).otherwise(lit("")),
            when(col("doc_id") % 100000 === 0, lit(" bmrare")).otherwise(lit("")))
            .as("text"))
        val idx = graft.operators.Bm25Index.build(
          salted.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          bmPath, "scale_bm25", buckets = 32)
        idx.append(salted.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        idx.search(Seq("bmcommon", "bmrare"), 10)
          .filter(col("doc_id") % 100000 === 0).count()
      },
      time("dsir_select") {
        // importance resampling at scale, on a corpus shaped like the
        // method's domain: real text is Zipf-concentrated (a bounded hot
        // vocabulary carries most gram mass), so this leg's 500k docs
        // share 30 common tokens and individuate with 2 md5 tokens each
        // (~2M distinct grams at 2^20 buckets — sparse, like web text's
        // head+tail split). The salad corpus the other legs use is the
        // hashed-LM ADVERSARY — ~40M unique grams bury every bucket
        // ratio under Poisson noise (σ ≈ 2.8 nats/doc, measured 2.4%
        // threshold leakage), which defeats ANY count-based LM, not this
        // implementation. A marker in 1/4 of the docs defines the
        // target; the labeled one-pass fit keeps driver state at two
        // 2^20-sized vectors, and the narrow threshold selection must
        // recover the planted set EXACTLY: common-gram ratios cancel
        // (~0), each doc's ~5 unique grams carry ±log(1/α)-sized signal,
        // and the marker adds +ln(df·dr/dt·1/α)-sized margin on top.
        val common = (0 until 30).map(j => s"cw$j").mkString(" ")
        val uniq = (0 until 2).map(j =>
          substring(md5(concat(col("id").cast("string"), lit(s"u$j"))), 1, 8))
        val marked = spark.range(n).select(col("id").as("doc_id"),
          concat_ws(" ", lit(common) +: uniq :+
            when(col("id") % 4 === 0, lit("dsirtok")).otherwise(lit("")): _*)
            .as("text"),
          (col("id") % 4 === 0).as("is_t"))
          .localCheckpoint(true)
        val w = graft.operators.Dsir.fitLabeled(
          marked, "is_t", "text", dims = 1 << 20)
        // threshold 8: above the one-in-a-million false-positive ceiling
        // (a raw doc whose unique gram collides into the marker's bucket
        // scores ≈ +5 — ~1.4 such docs expected over 1.5M gram draws),
        // and well below the worst-case target floor (≈ +21 with every
        // unique-gram bucket contaminated; nominal ≈ +44)
        val c = graft.operators.Dsir.threshold(marked, "doc_id", "text", w, 8.0)
          .count()
        marked.unpersist()
        c
      },
      time("series_search_chunked") {
        // data-series search at scale: 5k series x 10k points = 50M
        // points, scanned through the CHUNKED path (chunk=1024 window
        // positions per piece, so per-task memory is piece-bounded no
        // matter how long a series grows). One affine copy of an
        // 8-point pattern (y = 3x + 7, z-norm-invisible scaling) is
        // planted at a known (series, offset); the gate is top-1
        // landing exactly there at distance ~0 among ~50M candidate
        // windows.
        val pat = Array(1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0)
        val pts = spark.range(5000L * 10000L).select(
          // `div`, not `/`: Spark's `/` on longs is DOUBLE division, so
          // an === against it matches one exact point, not the slice
          expr("id div 10000").as("key"),
          (col("id") % 10000L).as("t"),
          when(expr("id div 10000") === 777L &&
              col("id") % 10000L >= 4321L && col("id") % 10000L < 4329L,
            // the planted affine copy at (777, 4321)
            element_at(typedlit(pat.map(3.0 * _ + 7.0).toSeq),
              (col("id") % 10000L - 4321L + 1L).cast("int")))
            .otherwise((pmod(xxhash64(col("id")), lit(1000L)).cast("double")
              - 500.0) / 100.0)
            .as("v"))
        val series = graft.operators.SeriesSearch.seriesOf(
          pts, "key", Seq("t"), "v").localCheckpoint(true)
        val top = graft.operators.SeriesSearch
          .chunkedZDist(series, "key", pat, chunk = 1024)
          .orderBy(col("dist"), col("key"), col("off")).limit(1)
          .collect()(0)
        series.unpersist()
        require(top.getDouble(2) < 1e-9,
          s"planted affine copy must be distance ~0: ${top.getDouble(2)}")
        top.getLong(0) * 100000L + top.getInt(1)
      },
      time("ivfpq_build_search") {
        // the composite layout at scale: 555k vectors (505k in-space +
        // the 50k far cluster) through ONE assign+encode pass into
        // cluster-bucketed m-byte codes; a far-cluster query at nprobe=1
        // must read only its bucket and return far-cluster neighbors —
        // the coarse quantizer owns the cluster, the codes rank within it
        val ivfpqPath = Scratch.dir("scale_ivfpq")
        val allVecs = spark.range(n)
          .select(col("id").as("vec_id"), vecExpr.as("embedding"))
          .unionByName(spark.range(3 * n, 3 * n + 50000)
            .select(col("id").as("vec_id"), farVecExpr(asFloat = true).as("embedding")))
        graft.operators.IvfPq.build(allVecs, "vec_id", "embedding",
          "scale_ivfpq", ivfpqPath, nClusters = 32, m = 8, kCodes = 16,
          buckets = 32)
        val idx = graft.operators.IvfPq.open(spark, "scale_ivfpq", ivfpqPath)
        idx.search(farQuery(3 * n), k = 10, nprobe = 1)
          .filter(col("neighbor_id") >= 3 * n).count()
      },
      time("zonemap_prune_scan") {
        // data-skipping leg: 505k (k, v) rows landed as 64 range-
        // clustered files and zone-mapped; a ~1% k-band must plan only
        // its files and return exactly the direct-filter count. Encoded
        // files·10^6 + rows so both gates read off one value.
        val zmBase = Scratch.dir("scale_zm")
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        rows.repartitionByRange(64, col("k")).sortWithinPartitions("k")
          .write.parquet(s"$zmBase/data")
        graft.operators.ZoneMap.build(spark, s"$zmBase/data", Seq("k"),
          s"$zmBase/zones")
        val band = Seq(graft.operators.ZoneMap.Range("k", 1000L, 6000L))
        val files = graft.operators.ZoneMap.prunedFiles(spark, s"$zmBase/data",
          s"$zmBase/zones", band).get
        val got = graft.operators.ZoneMap.scan(spark, s"$zmBase/data",
          s"$zmBase/zones", band).count()
        files.size.toLong * 1000000L + got
      },
      time("bloom_point_scan") {
        // bloom data-skipping leg on a HASH-SCATTERED layout: 256 files
        // that each span the whole key range, so zone min/max prunes
        // nothing and only the per-file blooms discriminate. The pruner
        // runs on the driver over the manifest snapshot and reads the
        // ~91 KB bloom sidecar of each file the zone check keeps — the
        // manifest itself never carries bloom bits, so collecting it
        // stays metadata-sized at any file count.
        // Gates: a present key opens ~collision-many files (fpp 3% of
        // 256, never the corpus), and the lookup is row-exact. Encoded
        // files·10^6 + rows, the zonemap leg's convention.
        val base = Scratch.dir("scale_bloom") + "/t"
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val tbl = graft.operators.GraftTable.create(
          rows.repartition(256, col("k")), base,
          zoneCols = Seq("k"), bloomCols = Seq("k"),
          bloomItems = 100000L)
        val nf = tbl.files().size
        val preds = Seq(graft.operators.ZoneMap.Point("k", 424242L))
        val opened = tbl.scanFileCount(preds)
        require(opened >= 1 && opened <= nf / 16,
          s"a bloom Point probe on a hash-scattered layout must prune " +
            s"to collision-many files: $opened of $nf")
        val got = tbl.scan(preds).count()
        require(got == 1L, s"point lookup must be row-exact: $got")
        opened * 1000000L + got
      },
      time("or_null_scan") {
        // CNF-pruning leg (the r16 algebra) at probe scale: an OR
        // across the two EDGE stripes of a 64-file range-clustered
        // table prunes each disjunct independently and reads the
        // survivor union — the middle never opens — and IS NULL /
        // IS NOT NULL prune from the manifest's per-file null counts
        // (one all-null stripe planted). Row-exact throughout; encoded
        // files·10^6 + rows, the zonemap leg's convention.
        val onBase = Scratch.dir("scale_ornull") + "/t"
        val vals = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val nullStripe = spark.range(2000)
          .select(lit(null).cast("long").as("k"), col("id").as("v"))
          .coalesce(1)
        val tbl = graft.operators.GraftTable.create(
          vals.repartitionByRange(64, col("k")).sortWithinPartitions("k")
            .unionByName(nullStripe),
          onBase, zoneCols = Seq("k"))
        val nf = tbl.files().size
        val df = spark.read.format("graft-table")
          .option("path", onBase).load()
        val (loCut, hiCut) = (n / 64, n + 5000L - n / 64)
        val edgeCond = col("k") < loCut || col("k") >= hiCut
        graft.sources.GraftTableRelation.clearScan(onBase)
        val edgeRows = df.filter(edgeCond).count()
        val (opened, totalF) =
          graft.sources.GraftTableRelation.lastScan(onBase).get
        require(opened >= 2 && opened <= 8 && totalF == nf,
          s"an OR across edge stripes must open only them: " +
            s"$opened of $totalF")
        require(edgeRows == vals.filter(edgeCond).count(),
          s"row-exact under OR pruning: $edgeRows")
        graft.sources.GraftTableRelation.clearScan(onBase)
        val nNull = df.filter(col("k").isNull).count()
        require(graft.sources.GraftTableRelation.lastScan(onBase)
          .exists(_._1 == 1) && nNull == 2000L,
          s"IS NULL must open only the null stripe: $nNull")
        graft.sources.GraftTableRelation.clearScan(onBase)
        require(df.filter(col("k").isNotNull).count() == total)
        require(graft.sources.GraftTableRelation.lastScan(onBase)
          .exists(_._1 == nf - 1),
          "IS NOT NULL must drop the all-null stripe")
        opened * 1000000L + edgeRows
      },
      time("graft_table_lifecycle") {
        // unified-table leg: the zonemap leg's data-skipping invariant,
        // through ONE atomic handle — create 505k rows as 64 range-
        // clustered files, ledger-append the 5k tail, pruned-scan the
        // ~1% band, then a sorted compaction (files + zones + ledger
        // move as one version) must leave the scan row-identical and
        // vacuum must collect every superseded generation. Encoded
        // files·10^6 + rows, the zonemap leg's convention.
        val gtBase = Scratch.dir("scale_gt") + "/t"
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val tbl = graft.operators.GraftTable.create(
          rows.filter(col("k") < n)
            .repartitionByRange(64, col("k")).sortWithinPartitions("k"),
          gtBase, zoneCols = Seq("k"))
        tbl.append(rows.filter(col("k") >= n))
        val band = Seq(graft.operators.ZoneMap.Range("k", 1000L, 6000L))
        val files = tbl.scanFileCount(band)
        val got = tbl.scan(band).count()
        tbl.compact(targetRows = n / 8, sortCols = Seq("k"))
        val gotAfter = tbl.scan(band).count()
        require(gotAfter == got,
          s"compaction changed scan results: $got -> $gotAfter")
        require(tbl.vacuum() >= 64L,
          "superseded generations must be collected")
        files * 1000000L + got
      },
      time("graft_table_cdc_feed") {
        // CDC + change-feed leg: row-level deletes through a file-pruned
        // merge at 505k rows, and the feed derived from the manifests
        // alone. Invariants (count-not-time): an append step's feed
        // slice is ONLY its new rows (no history rewrite — the property
        // that keeps a 100 TB table's feed cost ∝ the commit, not the
        // corpus); a tombstone leaves exactly one delete and NO
        // re-insert; the merge rewrite stays confined to the stripe's
        // files. Encoded rewritten·10^6 + tombstone-delete rows.
        val base = Scratch.dir("scale_cdc") + "/t"
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val tbl = graft.operators.GraftTable.create(
          rows.filter(col("k") < n)
            .repartitionByRange(64, col("k")).sortWithinPartitions("k"),
          base, zoneCols = Seq("k"), keepVersions = 3)
        val nf = tbl.files().size
        tbl.append(rows.filter(col("k") >= n)) // v2: the 5k tail
        val app = tbl.readChanges(1L, 2L)
        require(app.filter(col("_change_type") === "delete").count() == 0L,
          "an append step's feed must not read or emit history")
        require(app.filter(col("_change_type") === "insert").count() ==
          total - n, "the append feed slice is exactly the appended rows")
        // v3: CDC merge confined to the [1000, 3000) key stripe —
        // evens tombstone, odds bump
        val stripe = col("k") >= 1000L && col("k") < 3000L
        val batch = rows.filter(stripe && col("k") % 2 === 0)
          .withColumn("op", lit(graft.operators.GraftTable.DeleteOp))
          .unionByName(rows.filter(stripe && col("k") % 2 === 1)
            .withColumn("v", col("v") + 10000L)
            .withColumn("op", lit("upsert")))
        val (rew, _) = tbl.merge(batch, "k", "op")
        require(rew >= 1 && rew < nf,
          s"a stripe-confined CDC merge must rewrite a file subset: $rew of $nf")
        require(tbl.scan(Seq(graft.operators.ZoneMap.Range("k", 1000L, 2999L)))
          .count() == 1000L, "tombstoned evens gone, bumped odds present")
        val mrg = tbl.readChanges(2L, 3L)
        require(mrg.filter(col("_change_type") === "insert" && stripe &&
          col("k") % 2 === 0).count() == 0L,
          "a tombstoned key must never re-insert in the feed")
        val tomb = mrg.filter(col("_change_type") === "delete" && stripe &&
          col("k") % 2 === 0).count()
        rew * 1000000L + tomb
      },
      time("merge_spec_cdc") {
        // multi-wing MergeSpec leg at 505k: ONE CDC batch — conditional
        // deletes (op 'd' on the stripe's evens), ACCUMULATE updates
        // (v += delta on the odds, a target-referencing SET), fresh-key
        // inserts gated by `op <> 'd'`, and phantom deletes for keys
        // that never existed — applied as ONE commit through the wing
        // algebra: every condition evaluates on the merge's own
        // full-outer join over ONLY the stripe-affected files, the
        // carry columns (op, delta) never store, and there is NO
        // pre-restriction head read by construction. Invariants
        // count-not-time: rewrite a strict file subset, survivor/
        // accumulate/insert counts exact, phantom deletes no-op, change
        // slice O(changed). Encoded rewritten·10^6 + slice rows.
        val base = Scratch.dir("scale_mspec") + "/t"
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val tbl = graft.operators.GraftTable.create(
          rows.filter(col("k") < n)
            .repartitionByRange(64, col("k")).sortWithinPartitions("k"),
          base, zoneCols = Seq("k"), keepVersions = 3)
        val nf = tbl.files().size
        val stripe = col("k") >= 1000L && col("k") < 3000L
        val img = (col("k") % 977L).cast("long")
        val batch = rows.filter(stripe && col("k") % 2 === 0)
          .select(col("k"), img.as("v"), lit(0L).as("delta"),
            lit("d").as("op"))
          .unionByName(rows.filter(stripe && col("k") % 2 === 1)
            .select(col("k"), img.as("v"), lit(10000L).as("delta"),
              lit("u").as("op")))
          .unionByName(spark.range(10000000L, 10001000L)
            .select(col("id").as("k"), (col("id") % 977L).as("v"),
              lit(0L).as("delta"), lit("i").as("op")))
          .unionByName(spark.range(20000000L, 20000100L)
            .select(col("id").as("k"), img.as("v"), lit(0L).as("delta"),
              lit("d").as("op")))
        val v0 = tbl.version
        val (rew, _) = tbl.mergeSpec(batch, Seq("k"),
          graft.operators.GraftTable.MergeSpec(
            update = Some(lit(true)),
            updateExprs = Seq("v" -> (col("t.v") + col("s.delta"))),
            delete = Some(col("s.op") === "d"), deleteFirst = true,
            insert = Some(col("s.op") =!= "d"),
            carryCols = Seq("delta", "op")))
        require(tbl.version == v0 + 1, "one CDC apply, one commit")
        require(rew >= 1 && rew < nf,
          s"a stripe-confined CDC apply must rewrite a file subset: " +
            s"$rew of $nf")
        val strip = tbl.scan(
          Seq(graft.operators.ZoneMap.Range("k", 1000L, 2999L)))
        require(strip.count() == 1000L,
          "conditional deletes must remove exactly the stripe's evens")
        require(strip.filter(col("v") >= 10000L).count() == 1000L,
          "the accumulate wing must bump every surviving odd")
        require(tbl.read().filter(col("k") >= 10000000L &&
          col("k") < 20000000L).count() == 1000L,
          "the conditional insert wing must land the fresh keys")
        require(tbl.read().filter(col("k") >= 20000000L).count() == 0L,
          "phantom deletes (unmatched, op='d') must do NOTHING")
        require(!tbl.read().columns.contains("op") &&
          !tbl.read().columns.contains("delta"),
          "carry columns must never store")
        val slice = tbl.readChanges(v0, v0 + 1)
        val sliceN = slice.count()
        require(slice.filter(col("_change_type") === "delete")
          .count() == 1000L &&
          slice.filter(col("_change_type") === "insert").count() == 1000L &&
          slice.filter(col("_change_type") === "update_postimage")
            .count() == 1000L,
          "the change slice must be O(changed): exact wing counts")
        rew * 1000000L + sliceN
      },
      time("graft_table_contention") {
        // commit-contention leg: 4 writers × 2 appends racing ONE table
        // at 505k rows — optimistic rebase must land ALL 8 commits
        // (an append's read-set is empty, so every lost race is a false
        // conflict), at contiguous versions, with the exact union of
        // rows and nothing double-landed. Invariants count-not-time:
        // encoded committed-versions·10^6 + appended rows.
        val base = Scratch.dir("scale_cont") + "/t"
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val tbl = graft.operators.GraftTable.create(
          rows.repartitionByRange(64, col("k")).sortWithinPartitions("k"),
          base, zoneCols = Seq("k"), keepVersions = 1)
        val barrier = new java.util.concurrent.CyclicBarrier(4)
        val failures =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (0 until 4).map { i =>
          new Thread(() => {
            barrier.await()
            (0 until 2).foreach { j =>
              val lo = 10000000L + (i * 2 + j) * 1000L
              try graft.operators.GraftTable.open(spark, base)
                .append(spark.range(lo, lo + 1000L).select(
                  col("id").as("k"), (col("id") % 977L).as("v")))
              catch { case e: Throwable => failures.add(e) }
            }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        require(failures.isEmpty,
          s"all racing appends must rebase and commit: ${failures.peek()}")
        val vs = tbl.versions()
        require(vs == (vs.head to vs.last),
          s"committed versions must be contiguous under contention: $vs")
        val appended = tbl.read().filter(col("k") >= 10000000L).count()
        val distinctAppended = tbl.read().filter(col("k") >= 10000000L)
          .select("k").distinct().count()
        require(appended == distinctAppended,
          s"no appended row may double-land: $appended vs $distinctAppended")
        tbl.version * 1000000L + appended
      },
      time("graft_table_dml") {
        // predicate-DML leg at 505k rows: DELETE WHERE then UPDATE SET
        // WHERE, both confined by zone pruning to the [1000, 3000) key
        // stripe's files. Invariants (count-not-time): survivor and
        // updated counts exact, each rewrite a strict file subset, and
        // each commit's persisted slice O(changed) — the property that
        // keeps a 100 TB table's DML cost ∝ the match, not the corpus.
        // Encoded rewrittenDelete·10^6 + rewrittenUpdate·10^4 + slices.
        val base = Scratch.dir("scale_dml") + "/t"
        val rows = corpus.select(col("doc_id").as("k"),
          (col("doc_id") % 977L).as("v"))
        val tbl = graft.operators.GraftTable.create(
          rows.repartitionByRange(64, col("k")).sortWithinPartitions("k"),
          base, zoneCols = Seq("k"), keepVersions = 3)
        val nf = tbl.files().size
        val stripe = Seq(graft.operators.ZoneMap.Range("k", 1000L, 2999L))
        val (rewD, _) = tbl.delete(stripe, col("k") % 2 === 0)
        require(rewD >= 1 && rewD < nf,
          s"predicate delete must rewrite a strict file subset: $rewD of $nf")
        require(tbl.read().count() == total - 1000L,
          "exactly the stripe's 1000 evens must be deleted")
        val delSlice = tbl.readChanges(1L, 2L).count()
        val (rewU, _) = tbl.update(stripe,
          Map("v" -> (col("v") + 100000L)), col("k") % 2 === 1)
        require(rewU >= 1 && rewU < nf,
          s"predicate update must rewrite a strict file subset: $rewU of $nf")
        require(tbl.read().filter(col("v") >= 100000L).count() == 1000L,
          "exactly the stripe's 1000 odds must be updated")
        val updSlice = tbl.readChanges(2L, 3L).count()
        rewD * 1000000L + rewU * 10000L + delSlice + updSlice
      },
      time("phrase_index_search") {
        // positional-index leg: " zz qq" planted in every 50th doc of
        // the 505k salad; the phrase must hit exactly the planted
        // carriers through a bucket-pruned postings fetch (hex salad
        // cannot collide with the marker tokens)
        val phPath = Scratch.dir("scale_ph")
        val salted = corpus.select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 50 === 0, lit(" zz qq")).otherwise(lit("")))
          .as("text"))
        val pidx = graft.operators.PhraseIndex.build(salted, "doc_id", "text",
          phPath, "scale_phrase", buckets = 32)
        pidx.phrase(Seq("zz", "qq")).count()
      },
      time("materialized_agg_fold") {
        // the monoid-at-rest leg: 505k rows into a 1000-group aggregate,
        // built on the first half and folded forward in two ledgered
        // batches plus one REDELIVERY (which must not move a number);
        // the served state must equal the one-shot groupBy exactly —
        // count-not-time, per ScaleGuard doctrine
        val maggPath = Scratch.dir("scale_magg")
        val rows = corpus.select(col("doc_id"),
          (col("doc_id") % 1000L).as("g"), length(col("text")).as("len"))
        val m = graft.operators.MaterializedAgg.build(
          rows.filter(col("doc_id") < n / 2), Seq("g"), Seq("len"), maggPath)
        m.update(rows.filter(col("doc_id") >= n / 2 && col("doc_id") < n), 0L)
        m.update(rows.filter(col("doc_id") >= n), 1L)
        m.update(rows.filter(col("doc_id") >= n), 1L) // redelivery: no-op
        val direct = rows.groupBy("g").agg(
          count(lit(1)).as("n"), count(col("len")).as("c_len"),
          sum("len").as("s_len"), min("len").as("mn_len"),
          max("len").as("mx_len"))
        val mismatches = m.read().drop("avg_len")
          .unionByName(direct).distinct().count() - 1000L
        mismatches * 1000000L + m.read().count()
      })
    graft.operators.Dedup.releaseCaches()
    val dedupCount = stages.find(_._1 == "exact_dedup").get._3
    val pairCount = stages.find(_._1 == "minhash_pairs").get._3
    // invariants: exact dedup keeps one copy per planted pair;
    // minhash finds exactly the planted duplicates, nothing quadratic
    assert(dedupCount == total - 5000, s"exact dedup kept $dedupCount of $total")
    assert(pairCount == 5000, s"minhash found $pairCount pairs, planted 5000")
    val srpPairs = stages.find(_._1 == "srp_embedding_pairs").get._3
    assert(srpPairs == 5000, s"SRP found $srpPairs embedding pairs, planted 5000")
    // cluster-scoped semantic pairs at auto-k: clones co-assign, so the
    // scope cut costs zero recall on exact duplicates
    val semPairs = stages.find(_._1 == "semantic_dedup_pairs").get._3
    assert(semPairs == 5000L,
      s"semantic dedup found $semPairs pairs, planted 5000")
    // the sampled-trained quality model must recover the planted rule up
    // to feature-hash collisions with the marker bucket (~20 expected at
    // 2^20 dims over this vocabulary; deterministic for a fixed seed)
    val qmMiss = stages.find(_._1 == "quality_model_train_score").get._3
    assert(qmMiss <= 64L,
      s"quality model misclassified $qmMiss of $n docs — beyond the " +
        "hash-collision bound, the learner or scorer regressed")
    // index amortization: the probe finds exactly its planted clones and
    // costs a fraction of a full-corpus pair scan (the whole point of the
    // persistent index — per-batch cost is NOT a corpus re-hash)
    val probePairs = stages.find(_._1 == "index_probe_batch").get._3
    assert(probePairs == 5000, s"index probe found $probePairs pairs, planted 5000")
    // the R-S screen finds exactly its 5k batch-to-source pairs — the
    // exact-verify stage kills every spurious rare-shingle collision
    val crossPairs = stages.find(_._1 == "cross_jaccard_screen").get._3
    assert(crossPairs == 5000,
      s"cross screen found $crossPairs pairs, planted 5000")
    // the hot-gram leg keeps one copy of the planted phrase (its first
    // owner) and strips the suffix from every other carrier — exactly
    // n/5 − 1 affected docs, and nothing else in the salad repeats
    val hotAffected = stages.find(_._1 == "selfdedup_hot_gram").get._3
    assert(hotAffected == n / 5 - 1,
      s"hot-gram self-dedup affected $hotAffected docs, expected ${n / 5 - 1}")
    // the embedding index's 5k-clone probe finds exactly its planted
    // pairs — candidate volume through the STORED buckets stays
    // pair-proportional, the same invariant the in-memory SRP leg pins
    val embProbePairs = stages.find(_._1 == "embed_index_probe_batch").get._3
    assert(embProbePairs == 5000,
      s"embedding-index probe found $embProbePairs pairs, planted 5000")
    val embIndexed = stages.find(_._1 == "embed_index_build").get._3
    assert(embIndexed == n, s"embedding index holds $embIndexed of $n vectors")
    // the maintenance cycle (append 5k, delete 2.5k, probe 5k fresh
    // clones) lands exactly on the survivor arithmetic: 5000 base matches
    // + 2500 surviving appended clones
    val maintPairs = stages.find(_._1 == "embed_index_append_delete_probe").get._3
    assert(maintPairs == 7500,
      s"maintained-index probe found $maintPairs pairs, expected 7500")
    // after the drift retrain, a shifted-cluster query at nprobe=1 finds
    // ONLY shifted neighbors — all 10 of its top-10 (the three in-cycle
    // require()s gate the baseline-quiet → trip → quiet-again arc)
    val ivfShifted = stages.find(_._1 == "ivf_retrain_cycle").get._3
    assert(ivfShifted == 10,
      s"retrained IVF nprobe=1 returned $ivfShifted shifted neighbors of 10")
    // the composite at 555k: a far-cluster query at nprobe=1 returns only
    // far-cluster neighbors through the cluster-bucketed m-byte codes
    val ivfpqShifted = stages.find(_._1 == "ivfpq_build_search").get._3
    assert(ivfpqShifted == 10,
      s"IVF-PQ nprobe=1 returned $ivfpqShifted far-cluster neighbors of 10")
    // the 50M-window chunked scan's nearest window is the planted
    // affine copy at (series 777, offset 4321)
    val seriesTop = stages.find(_._1 == "series_search_chunked").get._3
    assert(seriesTop == 777L * 100000L + 4321L,
      s"chunked series search top-1 stat $seriesTop != planted (777, 4321)")
    // the 5 rare-term docs (huge idf, all arriving via the APPEND) must
    // all rank in the top-10
    val bmRare = stages.find(_._1 == "bm25_index_search").get._3
    assert(bmRare == 5,
      s"bm25 index top-10 held $bmRare of the 5 planted rare-term docs")
    // DSIR threshold selection must recover the planted target set
    // exactly: 500k/4 docs carry the marker
    val dsirSel = stages.find(_._1 == "dsir_select").get._3
    assert(dsirSel == n / 4,
      s"DSIR selected $dsirSel docs, planted ${n / 4}")
    // compact must not move a single label
    val compactStat = stages.find(_._1 == "components_index_compact").get._3
    assert(compactStat == 5000L * 1000000 + 10000,
      s"components compact stat $compactStat != 5000 comps over 10000 docs")
    // 5000 clone pairs = 5000 two-doc components over 10000 members,
    // packed as distinct_comps * 1e6 + member_rows
    val compStat = stages.find(_._1 == "components_index_update").get._3
    assert(compStat == 5000L * 1000000 + 10000,
      s"components index stat $compStat != 5000 comps over 10000 docs")
    // the ~1% k-band plans at most 3 of 64 files (sampled range
    // boundaries can smear a stripe) and returns exactly the 5001
    // direct-filter rows — data skipping that can never change results
    val zmStat = stages.find(_._1 == "zonemap_prune_scan").get._3
    assert(zmStat % 1000000L == 5001L && zmStat / 1000000L <= 3,
      s"zonemap leg stat $zmStat != (files<=3)e6 + 5001 rows")
    // same band, same bound, through the unified table's manifest —
    // planning from ONE metadata read, no directory listing on the path
    val gtStat = stages.find(_._1 == "graft_table_lifecycle").get._3
    assert(gtStat % 1000000L == 5001L && gtStat / 1000000L <= 3,
      s"graft-table leg stat $gtStat != (files<=3)e6 + 5001 rows")
    // CDC feed leg: every tombstoned even in [1000, 3000) surfaced as
    // exactly one feed delete, and the rewrite stayed on the stripe's
    // file(s) — file-pruned CDC at 505k
    val cdcStat = stages.find(_._1 == "graft_table_cdc_feed").get._3
    assert(cdcStat % 1000000L == 1000L && cdcStat / 1000000L <= 3,
      s"cdc-feed leg stat $cdcStat != (rewritten<=3)e6 + 1000 tombstones")
    // contention leg: 8 racing appends ALL committed (head = v9,
    // contiguity require()d in-leg) and exactly their 8000 rows landed
    val contStat = stages.find(_._1 == "graft_table_contention").get._3
    assert(contStat == 9L * 1000000L + 8000L,
      s"contention leg stat $contStat != v9·10^6 + 8000 appended rows")
    // predicate-DML leg: the delete slice is exactly the 1000 tombstoned
    // evens, the update slice exactly the 1000 odds' pre/post pairs
    // (2000 rows), and both rewrites stayed on the stripe's file(s)
    val dmlStat = stages.find(_._1 == "graft_table_dml").get._3
    assert(dmlStat % 10000L == 3000L && dmlStat / 1000000L <= 3 &&
      (dmlStat % 1000000L) / 10000L <= 3,
      s"dml leg stat $dmlStat != (rewD<=3)e6 + (rewU<=3)e4 + 3000 slice rows")
    // the planted phrase hits exactly its carriers: every 50th doc
    val phHits = stages.find(_._1 == "phrase_index_search").get._3
    assert(phHits == total / 50,
      s"phrase search hit $phHits docs, planted ${total / 50}")
    // incremental fold == one-shot groupBy at 505k: zero mismatched
    // group rows (union ∪ distinct collapses identical states to 1000)
    val maggStat = stages.find(_._1 == "materialized_agg_fold").get._3
    assert(maggStat == 1000L,
      s"materialized agg stat $maggStat != 0 mismatches over 1000 groups")
    val probeS = stages.find(_._1 == "index_probe_batch").get._2
    val fullS = stages.find(_._1 == "minhash_pairs").get._2
    // ADVISORY, not a gate: the two timings come from the same run, and
    // on a loaded box the 5k probe's fixed multi-job overhead (table
    // refresh, localCheckpoints, bucketed scans) can exceed 0.7× the full
    // scan even though the structural no-re-hash property still holds —
    // that property is pinned by DedupIndexSpec's job/plan assertions and
    // by the COUNT invariants above, which stay the hard gates (the
    // ScaleGuardSpec count-not-time principle). The ratio is still
    // reported for trend reading.
    val probeRatio = if (fullS > 0) probeS / fullS else -1.0
    if (n >= 200000 && probeS >= fullS * 0.7)
      System.err.println(
        f"[scale] WARN 5k-batch probe ($probeS%.1f s) not well under the full pair scan " +
          f"($fullS%.1f s): ratio $probeRatio%.2f - expected < 0.7 on an idle box")
    val js = stages.map { case (k, s, _) => s""""$k":${math.round(s * 100) / 100.0}""" }
      .mkString(",")
    println(s"""{"metric":"scale_probe","docs":$total,$js,"probe_vs_full_ratio":${math.round(probeRatio * 100) / 100.0}}""")
    spark.stop()
  }
}
