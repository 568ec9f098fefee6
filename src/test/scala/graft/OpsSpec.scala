package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the no-oracle operators (SURVEY §2 E4, K3, L2-family,
  * ANN) plus the driver's smoke contract.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  private def run(key: String) = SparkEntry.queries(key)(spark, sf)

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bloom-filter layout: written footer physically carries the l_orderkey filter") {
    import scala.jdk.CollectionConverters._
    run("scan_parquet_bloom_lookup").collect() // ensures the layout is written
    val dir = new java.io.File(s"${Tables.stagingDir("graft_bloom", sf)}/data")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
      new org.apache.hadoop.conf.Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      assert(blocks.nonEmpty)
      val cc = blocks.head.getColumns.asScala
        .find(_.getPath.toDotString == "l_orderkey").get
      assert(cc.getBloomFilterOffset >= 0, "no bloom filter written for l_orderkey")
      assert(reader.readBloomFilter(cc) != null, "bloom filter offset present but unreadable")
    } finally reader.close()
  }

  test("permissive CSV: _corrupt preserves the raw malformed line for quarantine") {
    run("scan_csv_corrupt_permissive").collect() // materializes the scratch layout
    val dir = Tables.stagingDir("graft_csv_corrupt", sf)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
    val bad = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir).where(col("_corrupt").isNotNull).collect()
    assert(bad.nonEmpty)
    bad.foreach { r =>
      // the raw line survives verbatim (quarantine needs the original bytes)
      assert(r.getString(3).matches("""\d+,[a-z]{2},bad\d+"""), r.getString(3))
      // parseable fields of the bad row still loaded; the corruption rule holds
      assert(r.getLong(0) % 7 == 0, s"doc_id ${r.getLong(0)} should not be corrupt")
      assert(r.isNullAt(2), "malformed n_chars must be null")
    }
  }

  test("every query key has an oracle (round 12: zero no-oracle keys)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q))
    // The estimate keys carry staged-BOUND oracles (DuckDB checks
    // |estimate − exact| against its own exact counts), so every
    // registered key carries a DuckDB oracle.
    assert((q -- o).isEmpty, s"uncovered no-oracle keys: ${q -- o}")
  }

  test("staged-oracle keys are a consistent, flagged subset") {
    val staged = SparkEntry.stagedOracle.toSet
    val memo = SparkEntry.memoized.toSet
    // every staged-oracle key must actually publish an oracle (the flag
    // marks verification STRENGTH, not absence)...
    assert(staged.subsetOf(SparkEntry.oracleSql.keySet),
      s"staged keys without an oracle: ${staged -- SparkEntry.oracleSql.keySet}")
    // ...and must be bench-memoized: staging runs once per (JVM, dataset),
    // so timed repeats measure post-staging work — exactly what the
    // memoized flag tells a comparison across commits.
    assert(staged.subsetOf(memo), s"staged but not memoized: ${staged -- memo}")
  }

  test("oracles that read staged /tmp artifacts are exactly the flagged ones") {
    // Regression guard on verification strength: an oracle that reads a
    // Spark-written /tmp artifact is NOT independently recomputing the
    // kernel — every such key must be flagged staged (or be the one
    // declared input-layout key, where the staged FILES are the operator's
    // input, not its output). Conversely a flagged key whose oracle no
    // longer touches /tmp is a stale flag overstating weakness.
    val tmp = sys.props("java.io.tmpdir")
    val inputLayout = Set("scan_binaryfile_ingest")
    val readsTmp = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.contains(tmp) => k
    }.toSet
    val staged = SparkEntry.stagedOracle.toSet
    assert((readsTmp -- staged -- inputLayout).isEmpty,
      s"unflagged staged-artifact oracles: ${readsTmp -- staged -- inputLayout}")
    assert((staged -- readsTmp).isEmpty,
      s"flagged keys whose oracle no longer reads a staged artifact: ${staged -- readsTmp}")
  }

  test("staged-layout oracles: Verify names the layouts of its own dataset") {
    // Two datasets over the same tables: `sf` and a dir of symlinks to its
    // tables. Staging the second must leave the first's layouts, and the
    // oracle file Verify writes for the first, pointing at its own files.
    import java.nio.file.{Files, Paths}
    val keys = Seq("sim_ann_ivf", "dedup_semdedup_cluster", "embed_pca_project",
      "multimodal_phash_neardup", "agg_approx_distinct", "agg_sketch_merge",
      "scan_binaryfile_ingest")
    val d2 = SparkTestBase.tempDir("graft_second_dataset")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.createSymbolicLink(d2.resolve(f.getName), f.toPath.toAbsolutePath))
    val tmp = java.util.regex.Pattern.quote(sys.props("java.io.tmpdir"))
    // every quoted path of each key's resolved oracle -> its layout dir
    def layouts(d: String): Map[String, Seq[(String, String)]] = {
      val sql = Verify.oracleSql(spark, d)
      keys.map(k => k -> s"'($tmp/\\w+)/([^']*)'".r.findAllMatchIn(sql(k))
        .map(m => (m.group(1), m.group(2))).toSeq).toMap
    }
    def marker(dir: String) = Files.readString(Paths.get(dir, "_done"))
    keys.foreach(k => SparkEntry.queries(k)(spark, sf).collect())
    val mine = layouts(sf)
    val markers = mine.values.flatten.map(_._1).map(dir => dir -> marker(dir)).toMap
    try {
      keys.foreach(k => SparkEntry.queries(k)(spark, d2.toString).collect())
      for ((k, paths) <- mine) {
        assert(paths.nonEmpty, s"$k: its oracle names no staged layout")
        val quoted = "'(/[^']*)'".r.findAllMatchIn(Verify.oracleSql(spark, sf)(k)).map(_.group(1)).toSeq
        assert(quoted == paths.map { case (dir, rel) => s"$dir/$rel" }, s"$k names a path outside tmpdir")
        for ((dir, rel) <- paths) {
          val name = dir.split('/').last.stripSuffix("_" + Integer.toHexString(sf.hashCode))
          assert(dir == Tables.stagingDir(name, sf), s"$k: $dir is not a staging dir of $sf")
          val glob = Paths.get(dir, rel)
          val files = Option(glob.getParent.toFile.listFiles()).toSeq.flatten
          assert(files.exists(f => java.nio.file.FileSystems.getDefault
            .getPathMatcher(s"glob:$glob").matches(f.toPath)), s"$k: no file matches $glob")
          assert(marker(dir) == markers(dir) && marker(dir).contains(s"$sf|"),
            s"$k: staging the second dataset replaced $dir")
        }
      }
    } finally layouts(d2.toString).values.flatten.foreach { case (dir, _) =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("SURVEY §2 inventory and SparkEntry.queries agree key-for-key") {
    // SURVEY §2 is read line by line against the registry; a key
    // declared but unregistered (or registered but undeclared) is a silent
    // coverage hole. Keys appear in SURVEY tables as `backtick_quoted`
    // first cells; prose backtick mentions are filtered by requiring the
    // row position (line starts with "| `").
    val survey = java.nio.file.Files.readString(java.nio.file.Paths.get("SURVEY.md"))
    // Two row shapes: addendum tables lead with the key (`| `key` |`), the
    // §2.A-K tables lead with a short ID cell (`| E1 | `key` |`).
    val declared = survey.linesIterator
      .filter(l => l.startsWith("| `") || l.matches("^\\| [A-Z][A-Za-z0-9∘./§]{0,6} \\| `.*"))
      .flatMap("^\\| (?:[^|`]*\\| )?`([a-z0-9_]+)`".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    assert((registered -- declared).isEmpty,
      s"registered but not declared in SURVEY §2: ${(registered -- declared).toSeq.sorted}")
    assert((declared -- registered).isEmpty,
      s"declared in SURVEY §2 but not registered: ${(declared -- registered).toSeq.sorted}")
  }

  test("doc_chunk_overlap covers every token and overlaps by half a window") {
    val chunks = run("doc_chunk_overlap")
      .select("doc_id", "start", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val lens = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lens.foreach { case (id, n) =>
      val cs = chunks(id).sortBy(_._2)
      // full coverage: the 8-token stride grid always has a start within
      // 15 tokens of the end, so the union of [start, start+n_tokens-1]
      // must be exactly [1, n]
      assert(cs.head._2 == 1L, s"doc $id first chunk")
      val covered = cs.foldLeft(0L) { case (hi, (_, s, len)) =>
        assert(s <= hi + 1, s"doc $id gap before token $s"); math.max(hi, s + len - 1)
      }
      assert(covered == n, s"doc $id covered $covered of $n")
      cs.sliding(2).foreach {
        case Array((_, s1, _), (_, s2, _)) => assert(s2 - s1 == 8L)
        case _ =>
      }
    }
  }

  test("split_train_test is a pure function of doc_id (repartition-invariant)") {
    val a = run("split_train_test").collect().map(_.toSeq).toSeq
    val b = run("split_train_test").collect().map(_.toSeq).toSeq
    assert(a == b)
    // expected proportions from the md5 first-hex-char buckets: 12/2/2 of 16
    val n = a.map(r => r(1).asInstanceOf[Long]).sum.toDouble
    val byName = a.map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
    assert(byName("train") / n > 0.6 && byName("train") / n < 0.9)
    assert(byName.values.sum == n.toLong)
  }

  test("agg_sketch_merge: union of per-nation sketches matches exact and direct") {
    val row = run("agg_sketch_merge").collect().head
    val est = row.getLong(0)
    val customer = Tables.t(spark, sf, "customer")
    val exact = customer.select(countDistinct(col("c_custkey"))).collect().head.getLong(0)
    assert(math.abs(est - exact).toDouble / exact <= 0.05, s"est $est vs exact $exact")
    // merging per-group sketches must agree with one sketch over everything
    val direct = customer
      .agg(expr("CAST(hll_sketch_estimate(hll_sketch_agg(c_custkey)) AS BIGINT)"))
      .collect().head.getLong(0)
    assert(est == direct)
  }

  test("E4 approx_count_distinct within 10% of exact") {
    val rows = run("agg_approx_distinct").collect()
    val exact = Tables.t(spark, sf, "customer")
      .groupBy("c_nationkey").agg(countDistinct(col("c_custkey")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (k, approx) = (r.getInt(0), r.getLong(1))
      assert(math.abs(approx - exact(k)).toDouble / exact(k) <= 0.10, s"nation $k")
    }
  }

  test("K3 minhash signature is deterministic and Jaccard estimate is sound") {
    // the query serializes the signature to CSV for the driver's hasher
    val sig1 = run("udaf_imperative_minhash").collect().map(r => r.getString(0) -> r.getString(1))
    val sig2 = run("udaf_imperative_minhash").collect().map(r => r.getString(0) -> r.getString(1))
    assert(sig1.map(_._2).zip(sig2.map(_._2)).forall { case (a, b) => a == b })
    // identical input sets → identical signatures (estimate 1.0)
    import spark.implicits._
    val toks = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L), ("b", 2L), ("b", 3L)).toDF("g", "h")
    val sigs = toks.groupBy("g").agg(udx.Udx.minhash(col("h")).as("sig"))
      .collect().map(_.getSeq[Long](1))
    assert(sigs(0) == sigs(1))
  }

  test("L2 minhash-LSH finds exactly the brute-force near-dup pairs at sf0.001") {
    // brute force over the 500-doc corpus, same shingle definition
    val docs = Tables.t(spark, sf, "documents")
    val sh = docs.where(size(split(col("text"), " ")) >= 5)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(split(text,' ')) - 4), i -> concat_ws(' ', slice(split(text,' '), i, 5))))").as("sh"))
    val a = sh.select(col("doc_id").as("i"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("j"), col("sh").as("sb"))
    val brute = a.join(b, col("i") < col("j"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))).cast("double"))
      .where(col("jac") >= 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("dedup_minhash_near").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"missing=${brute -- lsh} extra=${lsh -- brute}")
  }

  test("agg_quantile_merge: merged sketch equals direct sketch; rank error bounded") {
    val row = run("agg_quantile_merge").collect().head
    val (n, p50, p90) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val exact = Tables.t(spark, sf, "customer")
      .select(col("c_acctbal").cast("double").as("v")).collect().map(_.getDouble(0)).sorted
    assert(n == exact.length)
    // rank of the estimate in the exact data must sit near its quantile
    // (bottom-k with K=256: rank se ≈ √(q(1-q)/K) ≈ 0.031; allow 4 se)
    def rankOf(v: Double) = exact.count(_ <= v).toDouble / exact.length
    assert(math.abs(rankOf(p50) - 0.5) < 0.125, s"p50 est $p50 rank ${rankOf(p50)}")
    assert(math.abs(rankOf(p90) - 0.9) < 0.125, s"p90 est $p90 rank ${rankOf(p90)}")
    // merge path ≡ direct path: same kept (hash, value) pairs exactly
    import graft.udx.Udx
    val direct = Tables.t(spark, sf, "customer")
      .select(xxhash64(col("c_custkey")).as("h"), col("c_acctbal").cast("double").as("v"))
      .agg(Udx.bottomk(col("h"), col("v")).as("sk"))
      .selectExpr("transform(sk, x -> x._1) AS hs").collect().head.getSeq[Long](0)
    val merged = Tables.t(spark, sf, "customer")
      .select(col("c_nationkey"), xxhash64(col("c_custkey")).as("h"), col("c_acctbal").cast("double").as("v"))
      .groupBy("c_nationkey").agg(Udx.bottomk(col("h"), col("v")).as("sk"))
      .select(explode(col("sk")).as("p"))
      .agg(Udx.bottomk(col("p._1"), col("p._2")).as("sk"))
      .selectExpr("transform(sk, x -> x._1) AS hs").collect().head.getSeq[Long](0)
    assert(direct == merged, "bottom-k merge must be lossless")
  }

  test("FreqItems Misra-Gries: exact under K keys; merge error bounded over K") {
    import udx.Udx.{FreqItems, FreqItemsMerge, FreqK}
    // Exact regime: distinct keys ≤ FreqK → counts are exact regardless of
    // arrival order or how the stream is split across partial buffers.
    val exactStream = (0 until 1000).map(i => s"k${i % 40}")
    val (half1, half2) = exactStream.splitAt(537)
    val merged = FreqItems.merge(
      half1.foldLeft(FreqItems.zero)(FreqItems.reduce),
      half2.foldLeft(FreqItems.zero)(FreqItems.reduce))
    assert(FreqItems.finish(merged).toMap === exactStream.groupBy(identity).view.mapValues(_.size.toLong).toMap)
    // Approximate regime: 500 distinct keys over FreqK=64, one heavy key.
    // Every surviving estimate must be within n/(FreqK+1) of truth and the
    // heavy hitter must survive the trim (its frequency exceeds the bound).
    val skewed = Seq.fill(3000)("heavy") ++ (0 until 6000).map(i => s"t${i % 500}")
    val (a, b) = scala.util.Random.javaRandomToRandom(new java.util.Random(7)).shuffle(skewed).splitAt(4321)
    val sk = FreqItems.finish(FreqItems.merge(
      a.foldLeft(FreqItems.zero)(FreqItems.reduce),
      b.foldLeft(FreqItems.zero)(FreqItems.reduce))).toMap
    val n = skewed.size
    val truth = skewed.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sk.size <= FreqK)
    assert(sk.contains("heavy"), "heavy hitter evicted from the summary")
    sk.foreach { case (k, est) =>
      assert(est <= truth(k) && truth(k) - est <= n / (FreqK + 1),
        s"$k estimate $est outside [truth-n/(K+1), truth] of ${truth(k)}")
    }
    // Pair-level merge (the second aggregation stage) agrees with item-level.
    val viaPairs = FreqItemsMerge.finish(
      sk.toSeq.foldLeft(FreqItemsMerge.zero)(FreqItemsMerge.reduce)).toMap
    assert(viaPairs.keySet.subsetOf(sk.keySet))
  }

  test("sim_topk_int8: quantized retrieval preserves most of the float top-5") {
    val int8 = run("sim_topk_int8").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val float = run("sim_cosine_topk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = (int8 & float).size.toDouble / float.size
    info(f"int8 vs float top-5 agreement: $agree%.2f")
    // dequantized-cosine ranking (normalized absmax int8, scales multiplied
    // back) loses <1% precision on 64-dim vectors; measured 0.96 here
    assert(agree >= 0.8, f"quantized retrieval agreement $agree%.2f too low")
  }

  test("sim_ann_lsh is a subset-recall approximation of brute-force top-k") {
    val ann = run("sim_ann_lsh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = run("sim_cosine_topk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty)
    // every ANN hit is a real vector pair with positive sim; recall vs the
    // exact top-5 is reported, not asserted (bucket recall is data-dependent)
    val recall = (ann & brute).size.toDouble / brute.size
    info(f"ANN recall vs brute-force top-5: $recall%.2f (${ann.size} hits)")
  }

  test("sim_ann_ivf: probes beat a random-cluster baseline and overlap brute force") {
    val ivf = run("sim_ann_ivf").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val brute = run("sim_cosine_topk").collect()
      .filter(_.getLong(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    info(f"IVF recall vs exact top-3: $recall%.2f")
    // nprobe=2 of 8 clusters: random candidate subsetting would land near
    // 0.25 recall; the quantizer must do materially better
    assert(recall >= 0.3, f"IVF recall $recall%.2f no better than random clusters")
  }

  test("IVF index is a persisted artifact: a fresh session loads it with zero k-means jobs") {
    run("sim_ann_ivf").collect() // ensures the artifact exists on disk
    val dir = llm.Ivf.indexDir(sf)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_done")),
      s"no persisted index at $dir")
    // fresh session = fresh Memo slot; the SparkContext is shared, so a
    // listener on it sees every job the load path runs
    val s2 = spark.newSession()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val centroids =
      try {
        val (assigned, cs) = llm.Ivf.index(s2, sf)
        assert(assigned.columns.sameElements(Array("vec_id", "cluster")))
        // the listener bus is async — give posted events time to drain
        Thread.sleep(1500)
        cs
      } finally spark.sparkContext.removeSparkListener(listener)
    // the k-means build is 1 count + 3 Lloyd sweeps + 2 writes (6+ jobs,
    // each scanning the embeddings); the load path runs at most 3 metadata-
    // sized jobs: two parquet footer/schema reads + the k-row centroid
    // collect — no embeddings scan, no k-means
    assert(jobs.get() <= 3,
      s"fresh-session index load ran ${jobs.get()} jobs — it rebuilt instead of loading")
    assert(centroids.length >= 8)
    // recall unchanged through the loaded artifact: identical probe output
    val a = SparkEntry.queries("sim_ann_ivf")(spark, sf).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("sim_ann_ivf")(s2, sf).collect().map(_.toSeq).toSeq
    assert(a == b, "fresh-session probe output diverged from the building session's")
  }

  test("dedup_embed_cosine: cardinality guard quarantines the declared quadratic") {
    // the exact all-pairs fixture must fail FAST above the cap (Llm.
    // ExactCosineMaxRows) instead of silently paying O(N²) — stage a
    // dataset dir whose embeddings table is one row over the cap
    val sp = spark
    import sp.implicits._
    val dir = SparkTestBase.tempDir("graft_cosine_guard").toString
    spark.range(llm.Llm.ExactCosineMaxRows + 1)
      .select(col("id").as("vec_id"), lit(0).as("label"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("dedup_embed_cosine")(spark, dir)
    }
    assert(e.getMessage.contains("dedup_semdedup_cluster"),
      s"guard message must point at the production path: ${e.getMessage}")
    // at/below the cap the fixture still runs (the oracle scales are ≤2k)
    assert(run("dedup_embed_cosine").columns.sameElements(Array("drop_id")))
  }

  test("sim_join_threshold: cardinality guard quarantines the declared quadratic (round 13)") {
    // same quarantine as dedup_embed_cosine — the geometry probe proves no
    // recall-1 sub-quadratic exists at τ=0.35 on this corpus, so the exact
    // fixture must fail FAST above the cap and name its production siblings.
    // Own fixture dir: Tables.t caches the reader per (session, path), so
    // overwriting another test's dir would hand that test a stale listing.
    val dir = SparkTestBase.tempDir("graft_simjoin_guard").toString
    spark.range(llm.Llm.ExactCosineMaxRows + 1)
      .select(col("id").as("vec_id"), lit(0).as("label"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("sim_join_threshold")(spark, dir)
    }
    assert(e.getMessage.contains("sim_join_lsh_threshold"),
      s"guard message must point at the production path: ${e.getMessage}")
    assert(run("sim_join_threshold").columns
      .sameElements(Array("label", "i", "j", "sim")))
  }

  test("sim_join_lsh_threshold: finds every jittered twin pair; precision exact at τ") {
    // every base vector v has a deterministic twin -v-1 at cosine ≈ 0.9988;
    // the banded join's per-pair miss bound there is < 1e-12, so the twin
    // pair set must be found COMPLETELY at any gate scale — and every
    // emitted pair must verify exactly at τ (precision 1 by construction)
    val out = run("sim_join_lsh_threshold").collect()
    val baseIds = Tables.t(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missingTwins = baseIds.filter(v => !pairs.contains((-v - 1, v)))
    assert(missingTwins.isEmpty,
      s"banded join missed twin pairs for: ${missingTwins.take(5)}")
    assert(out.forall(_.getDouble(2) >= 0.9), "emitted pair below τ")
    // on this corpus cross pairs sit < 0.4, so twins are the whole answer
    assert(out.length == baseIds.size,
      s"expected exactly ${baseIds.size} twin pairs, got ${out.length}")
  }

  test("first-match-only banding == global-distinct pair set (round-15 stateless dedup)") {
    // sim_join_lsh_threshold dedups band-join candidates with the
    // lowest-matching-band filter instead of a `.distinct()`; this
    // property test pins the equivalence on adversarial random key arrays
    // (independent of the embedding corpus): for every pair sharing >= 1
    // band key, the filtered join must emit it EXACTLY once, and no pair
    // sharing none.
    val sp2 = spark
    import sp2.implicits._
    val rnd = new scala.util.Random(42)
    val nBands = 16
    // small key space (4 values) forces heavy multi-band collisions — the
    // regime where a wrong filter would double-emit or drop
    val rows = (0L until 60L).map(g => (g, Array.fill(nBands)(rnd.nextInt(4).toLong)))
    val keyed = rows.toDF("gid", "keys")
    val bandRows = keyed
      .select(col("gid"), col("keys"),
        explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .select(col("band"), expr("keys[band]").as("bkey"), col("gid"), col("keys"))
    val firstMatch = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.gid") < col("y.gid"))
      .where(expr("first_match_band(x.keys, y.keys, 1) = x.band"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = for {
      i <- rows.indices; j <- (i + 1) until rows.size
      if rows(i)._2.zip(rows(j)._2).exists { case (a, b) => a == b }
    } yield (math.min(rows(i)._1, rows(j)._1), math.max(rows(i)._1, rows(j)._1))
    assert(firstMatch.length == firstMatch.toSet.size,
      "first-match-only filter double-emitted a pair")
    assert(firstMatch.toSet == expected.toSet,
      s"pair sets differ: got ${firstMatch.length}, expected ${expected.size}")
  }

  test("first-match-only prefix banding (stride 2) == global-distinct pair set (round 16)") {
    // the minhash kernels band on raw 2-perm slices: each band row carries
    // the signature PREFIX strictly before its band and a candidate is
    // kept iff first_match_band(pre, pre, 2) = -1 (no earlier band also
    // matched). Property-pinned against brute force on adversarial keys,
    // exactly like the stride-1 test above.
    val sp2 = spark
    import sp2.implicits._
    val rnd = new scala.util.Random(7)
    val nBands = 8
    val rows = (0L until 50L).map(g => (g, Array.fill(nBands * 2)(rnd.nextInt(3).toLong)))
    val bandRows = rows.toDF("gid", "sig")
      .select(col("gid"), explode(expr(s"transform(sequence(0, ${nBands - 1}), " +
        "b -> struct(b AS band, element_at(sig, b*2+1) AS s1, " +
        "element_at(sig, b*2+2) AS s2, slice(sig, 1, b*2) AS pre))")).as("bb"))
      .select(col("gid"), col("bb.band").as("band"), col("bb.s1").as("s1"),
        col("bb.s2").as("s2"), col("bb.pre").as("pre"))
    val got = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.s1") === col("y.s1") &&
          col("x.s2") === col("y.s2") && col("x.gid") < col("y.gid"))
      .where(expr("first_match_band(x.pre, y.pre, 2) = -1"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = for {
      i <- rows.indices; j <- (i + 1) until rows.size
      if (0 until nBands).exists(b => rows(i)._2(2 * b) == rows(j)._2(2 * b) &&
        rows(i)._2(2 * b + 1) == rows(j)._2(2 * b + 1))
    } yield (rows(i)._1, rows(j)._1)
    assert(got.length == got.toSet.size, "prefix first-match double-emitted a pair")
    assert(got.toSet == expected.toSet,
      s"pair sets differ: got ${got.length}, expected ${expected.size}")
  }

  test("FirstMatchBand expression: eval + codegen, strides, empty prefix") {
    val sp2 = spark
    import sp2.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(9L, 2L, 3L)),      // stride1 -> 1
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),      // stride1 -> -1
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L)) // stride2 -> 1 (pair (3,4))
    ).toDF("xs", "ys")
    val out = df.select(expr("first_match_band(xs, ys, 1)").as("a"),
      expr("first_match_band(xs, ys, 2)").as("b")).collect()
    assert(out(0).getInt(0) == 1 && out(1).getInt(0) == -1)
    assert(out(2).getInt(0) == 0 && out(2).getInt(1) == 1)
    // unequal lengths: bands beyond the shorter array are ignored
    val uneq = Seq((Array(1L, 2L), Array(1L, 2L, 3L, 4L))).toDF("xs", "ys")
      .select(expr("first_match_band(xs, ys, 2)").as("a")).collect()
    assert(uneq(0).getInt(0) == 0)
    // empty arrays (the band-0 prefix case): no band can match
    val empty = Seq((Array.empty[Long], Array.empty[Long])).toDF("xs", "ys")
      .select(expr("first_match_band(xs, ys, 2)").as("a")).collect()
    assert(empty(0).getInt(0) == -1)
    // interpreted path agrees with codegen
    val fm = graft.udx.FirstMatchBand(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(5L, 6L, 7L, 8L)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(5L, 9L, 7L, 8L)),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      2)
    assert(fm.eval(null) == 1)
  }

  test("gram-pair kernels: per-source distinct-content guard fails fast (round 13)") {
    // the distinct-content rehearsal measures exponents 1.32/1.21 on the
    // two declared-exact gram kernels — past the per-source cap they
    // must fail BEFORE paying the O(reps²) kernel, naming the banded
    // siblings; the guard counts the collapsed table, so the fixture's
    // 16385 distinct one-source texts trip it in one tiny aggregate
    // md5 payload per doc: a bare numeric suffix is NOT enough — "111" and
    // "1111" have IDENTICAL char-3-gram SETS (so do all periodic digit
    // strings), and one such merge under the collapse lands exactly at the
    // cap instead of over it (found the hard way)
    val dir = SparkTestBase.tempDir("graft_gram_guard").toString
    spark.range(llm.Llm.GramPairMaxReps + 1)
      .select(col("id").as("doc_id"), lit("web").as("source"),
        concat(lit("guard text "), md5(col("id").cast("string"))).as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
    }
    assert(e.getMessage.contains("dedup_minhash_near"),
      s"guard message must point at the banded siblings: ${e.getMessage}")
    // at/below the cap both kernels still run (gate scales sit well under)
    assert(run("dedup_ngram_jaccard").columns
      .sameElements(Array("source", "i", "j", "jac")))
  }

  test("dedup_semdedup_cluster: drops ⊆ exact drop set, recall ≥ 0.9 vs the oracle fixture (sf0.01)") {
    // the exact/approx PAIRING bound (SURVEY §2): dedup_embed_cosine is the
    // declared-exact oracle fixture, semdedup the production path — run at
    // the driver's correctness scale so the bound is load-bearing, not a
    // toy-corpus artifact
    val sf01 = SparkTestBase.sf01
    val clustered = SparkEntry.queries("dedup_semdedup_cluster")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("dedup_embed_cosine")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    assert(clustered.nonEmpty)
    // precision 1 by construction: every within-cluster pair ≥ τ is a real
    // τ-pair verified by exact cosine, so the cluster-first operator can
    // only MISS drops, never invent them
    assert(clustered.subsetOf(exact),
      s"false drops: ${(clustered -- exact).take(5)}")
    val recall = (clustered & exact).size.toDouble / exact.size
    info(f"cluster-first drop recall vs exact: $recall%.2f (${clustered.size}/${exact.size})")
    assert(recall >= 0.9, f"cluster-first recall $recall%.2f below the 0.9 pairing bound")
  }

  test("dedup_semdedup_cluster: recall bound survives k past the floor (50x corpus, k=10)") {
    // The k ≈ N/10⁴ scaling claim, proven with data: at every driver scale
    // the floor pins k = 8, so the other recall checks see one fixed
    // geometry. Replicating the sf0.1
    // embeddings 50× (ids shifted by rep·10⁹ — the GenScale discipline)
    // yields N = 100 000, which forces k = 10 > floor. The exact drop set
    // at that scale is DERIVED, not recomputed (all-pairs at N=10⁵ is off
    // the table — which is the whole point of the production path):
    // every rep ≥ 1 id has its rep-0 twin at cosine 1 ≥ τ with a lower id,
    // so it is dropped exactly; a rep-0 id is dropped iff it is in the base
    // exact drop set (all rep ≥ 1 ids exceed every base id, so no new
    // lower-id partner can appear). Asserts the subset property, overall
    // recall ≥ 0.9, AND recall ≥ 0.9 restricted to the non-trivial rep-0
    // drops (the trivial twin pairs would otherwise mask a geometry
    // regression). Recall + runtime land in target/semdedup_scale.json for
    // the scale-rehearsal artifact.
    val sfDir = "/root/testdata/sf0.1"
    val K = 50
    val Off = 1000000000L
    // The 50x replica is staged once per source fingerprint and reused
    // across runs; a regenerated source re-stages it in place, so a stale
    // replica never compares mixed vintages.
    val dir = Tables.stagingDir("graft_semdedup_scale", sfDir)
    // Only THIS run's record may feed the rehearsal artifact: a leftover
    // target/semdedup_scale.json from an aborted or older run must not be
    // folded into BENCH_sf1.json by scale_exponents.py.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("target/semdedup_scale.json"))
    Tables.stage(dir, Tables.fingerprint(sfDir, "embeddings")) {
      Tables.t(spark, sfDir, "embeddings")
        .withColumn("__rep", explode(lit((0 until K).toArray)))
        .withColumn("vec_id", col("vec_id") + col("__rep").cast("long") * Off)
        .drop("__rep")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val t0 = System.nanoTime()
    val drops = SparkEntry.queries("dedup_semdedup_cluster")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    val (_, centroids) = graft.llm.Ivf.index(spark, dir)
    assert(centroids.length == 10, s"expected k=10 past the floor, got ${centroids.length}")
    val baseIds = Tables.t(spark, sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val baseExact = SparkEntry.queries("dedup_embed_cosine")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(baseExact.nonEmpty)
    val exactFull = baseExact ++
      (for (id <- baseIds; r <- 1 until K) yield id + r * Off)
    assert(drops.subsetOf(exactFull), s"false drops: ${(drops -- exactFull).take(5)}")
    val recall = (drops & exactFull).size.toDouble / exactFull.size
    val drops0 = drops.filter(_ < Off)
    val recall0 = (drops0 & baseExact).size.toDouble / baseExact.size
    info(f"50x recall: overall $recall%.3f, rep-0 $recall0%.3f, " +
      f"${drops.size}/${exactFull.size} drops, k=10, $secs%.1f s")
    // Locale.ROOT formatting: Scala's f-interpolator uses the JVM default
    // locale, and a comma-decimal locale would write 0,9750 — breaking
    // json.loads downstream in scale_exponents.py.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/semdedup_scale.json"),
      String.format(java.util.Locale.ROOT,
        """{"n":100000,"k":10,"n_assign":3,"recall_overall":%.4f,"recall_rep0":%.4f,"drops":%d,"exact":%d,"runtime_sec":%.1f}""",
        Double.box(recall), Double.box(recall0),
        Int.box(drops.size), Int.box(exactFull.size), Double.box(secs)))
    assert(recall >= 0.9, f"overall recall $recall%.3f below 0.9 at k=10")
    assert(recall0 >= 0.9, f"rep-0 recall $recall0%.3f below 0.9 at k=10")
  }

  test("cache hygiene: repeated dedup runs do not accumulate persisted blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    def sweep(): Unit = {
      run("dedup_minhash_near").count()
      run("dedup_cluster_components").count()
      // the collapse kernels checkpoint their representative table once
      // per run; a repeat must swap it in place, not accumulate
      run("dedup_ngram_jaccard").count()
      run("dedup_containment").count()
      run("sim_join_threshold").count()
      run("dedup_embed_cosine").count()
      run("sim_join_lsh_threshold").count()
    }
    sweep()
    val afterFirst = persisted
    sweep()
    val afterSecond = persisted
    // superseded checkpoint blocks are released EXPLICITLY by id (not left
    // to ContextCleaner GC, whose timing makes the count order-dependent):
    // a repeat swaps the pair memo and the final labels in place, so the
    // live set may not grow by more than those 2 entries, deterministically
    assert(afterSecond - afterFirst <= 2, s"$afterFirst -> $afterSecond persisted RDDs")
  }

  test("cache hygiene: repeated triangle-count runs do not accumulate persisted blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    run("graph_triangle_count").count()
    val afterFirst = persisted
    run("graph_triangle_count").count()
    val afterSecond = persisted
    // the edges+oriented checkpoints are registry-swapped per (session,dir)
    // with explicit by-id release — a repeat replaces, never accumulates
    assert(afterSecond - afterFirst <= 0, s"$afterFirst -> $afterSecond persisted RDDs")
  }

  test("cache hygiene: repeated PageRank, phash and bm25 runs do not accumulate persisted blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    def sweep(): Unit =
      Seq("graph_pagerank", "multimodal_phash_neardup", "rank_bm25_topk")
        .foreach(run(_).count())
    sweep()
    val afterFirst = persisted
    sweep()
    val afterSecond = persisted
    // each key's checkpoint sits in one Ckpt.slot entry: a repeat releases
    // the superseded entry's blocks by id, so the live set cannot grow
    assert(afterSecond - afterFirst <= 0, s"$afterFirst -> $afterSecond persisted RDDs")
  }

  test("cluster loop isolation: parent session conf never mutates mid-loop") {
    // the label-propagation loop runs in the caller's session and sets no
    // conf; poll that session's conf from another thread for the whole run,
    // so a loop that scoped a conf by writing it would show here
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    @volatile var done = false
    @volatile var observed = Set.empty[String]
    val probe = new Thread(() => {
      while (!done) { observed += spark.conf.get(key); Thread.sleep(1) }
    })
    probe.start()
    try run("dedup_cluster_components").count()
    finally { done = true; probe.join() }
    assert(observed == Set(before),
      s"parent-session shuffle conf changed mid-loop: saw $observed, expected only $before")
    assert(spark.conf.get(key) == before)
  }

  test("child-session keys hold one child session each, however often they run") {
    // join_runtime_bloom and hierarchy_recursive_cte plan under confs of
    // their own on a Session.child; the memo keeps one child per (session,
    // key), so repeated runs add no sessions (and no reader entries) to it
    Seq("join_runtime_bloom", "hierarchy_recursive_cte").foreach { k =>
      val before = Memo.sessions
      (1 to 3).foreach(_ => run(k).collect())
      val added = Memo.sessions -- before
      assert(added.size <= 1, s"$k: ${added.size} new sessions in the memo after 3 runs")
    }
    val children = Memo.fingerprints(spark).keySet.filter(_.startsWith("session:"))
    assert(children == Set("session:join_runtime_bloom", "session:hierarchy_recursive_cte"), children)
  }

  test("ImageKernel decodes a real PNG: dims, magic sniff, luma histogram") {
    import graft.llm.ImageKernel
    // 2×2 PNG: black, white / red, blue — written through the same JDK
    // codec the kernel reads with
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xffffff)
    img.setRGB(0, 1, 0xff0000); img.setRGB(1, 1, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(ImageKernel.isPng(png) && ImageKernel.isImage(png))
    assert(!ImageKernel.isImage("just text".getBytes))
    assert(ImageKernel.dims(png).contains((2L, 2L)))
    assert(ImageKernel.dims("just text".getBytes).isEmpty)
    // luminance: black 0 → bucket 0, blue 29 → bucket 0, red 76 → bucket 2,
    // white 255 → bucket 7
    val hist = ImageKernel.lumaHistogram(ImageKernel.decode(png).get)
    assert(hist.toSeq == Seq(2L, 0L, 1L, 0L, 0L, 0L, 0L, 1L))
  }

  test("ImageKernel GIF container round-trip: demux returns exact frame count and pixels") {
    import graft.llm.ImageKernel
    // 5 solid-gray frames at distinct levels through the sequence writer,
    // walked back via the sequence reader — the real-demux property the
    // multimodal_frame_sample oracle depends on
    val grays = Seq(0, 17, 128, 254, 255)
    val gif = ImageKernel.encodeGif(grays.map(g => ImageKernel.grayFrame(20, 11, g)))
    assert(ImageKernel.isGif(gif) && ImageKernel.isImage(gif))
    assert(ImageKernel.dims(gif).contains((20L, 11L))) // single-image decode sees frame 0
    val frames = ImageKernel.gifFrames(gif).get
    assert(frames.size == grays.size)
    frames.zip(grays).foreach { case (f, g) =>
      assert(f.getWidth == 20 && f.getHeight == 11)
      assert((f.getRGB(0, 0) & 0xff) == g && (f.getRGB(19, 10) & 0xff) == g)
      // solid gray g ⇒ every pixel in luma bucket g/32
      val hist = ImageKernel.lumaHistogram(f)
      assert(hist(g / 32) == 20L * 11 && hist.sum == 20L * 11)
    }
    assert(ImageKernel.gifFrames("just text".getBytes).isEmpty) // non-GIF falls through
  }

  test("dedup_simhash is deterministic and overlaps minhash ground truth") {
    val s1 = run("dedup_simhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s2 = run("dedup_simhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1 == s2)
    val mh = run("dedup_minhash_near").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((s1 & mh).size >= mh.size / 2, s"simhash found ${(s1 & mh).size} of ${mh.size} true dups")
  }

  test("dedup_incremental_bloom equals the plain exact anti-join (bloom FP-independent)") {
    val routed = run("dedup_incremental_bloom").collect().map(_.getLong(0)).toSeq
    // ground truth with no bloom routing at all
    val fp = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), sha2(col("text"), 256).as("f"))
    val exact = fp.where(pmod(col("doc_id"), lit(10)) >= 8)
      .join(fp.where(pmod(col("doc_id"), lit(10)) < 8).select("f"), Seq("f"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(routed == exact)
    assert(routed.forall(_ % 10 >= 8)) // only batch rows can surface
  }

  test("sample_reservoir_group: fixed n per source, repartition-invariant") {
    val out = run("sample_reservoir_group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val perSource = out.groupBy(_._1).view.mapValues(_.size)
    assert(perSource.values.forall(_ <= 20))
    // the draw is a pure function of (source, doc_id) — a different input
    // partitioning must produce the identical sample
    val again = SparkEntry.queries("sample_reservoir_group")(spark, sf)
    val shuffled = spark.read.parquet(s"$sf/documents.parquet").repartition(7)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("hkey"), col("doc_id"))
    val alt = shuffled
      .withColumn("hkey", pmod(col("doc_id") * lit(2654435761L), lit(1048576L)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 20)
      .select(col("source"), col("rn"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(alt == out.sorted && again.collect().length == out.size)
  }

  test("skyline_pareto: distributed prefix-min equals the quadratic dominance definition") {
    val p = Tables.t(spark, sf, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val q = p.select(col("p_retailprice").as("qp"), col("p_size").as("qs"))
    val brute = p.join(q,
        col("qp") <= col("p_retailprice") && col("qs") <= col("p_size") &&
          (col("qp") < col("p_retailprice") || col("qs") < col("p_size")), "left_anti")
      .select("p_partkey").collect().map(_.getLong(0)).sorted
    val got = run("skyline_pareto").select("p_partkey").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(brute), s"skyline mismatch: got ${got.length}, brute ${brute.length}")
  }

  test("graph_triangle_count: degree-oriented enumeration equals the canonical i<j<k count") {
    val li = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .agg(count(lit(1)).as("w")).where(col("w") >= 4).select("u", "v")
    val canonical = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .join(e.as("e3"), col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .count()
    val row = run("graph_triangle_count").collect().head
    assert(row.getAs[Long]("n_triangles") == canonical,
      s"oriented count ${row.getAs[Long]("n_triangles")} != canonical $canonical")
    assert(row.getAs[Long]("n_edges") == e.count())
  }

  test("resample_interpolate: exact on observed buckets, linear and bounded inside gaps") {
    val out = run("resample_interpolate")
    val ev = Tables.events(spark, sf)
      .withColumn("bucket_ms", expr("ts_ms div 3600000") * 3600000)
    // observed buckets carry the tie-broken observation exactly
    val obs = ev.groupBy("user_id", "bucket_ms")
      .agg(expr("max_by(value, ts_ms * 1000000 + event_id)").as("expected"))
    val joined = out.join(obs, Seq("user_id", "bucket_ms"))
    assert(joined.count() > 0)
    assert(joined.where(col("value") =!= col("expected")).count() == 0,
      "an observed bucket does not carry its own observation")
    // every gap value lies within [min, max] of the user's observations
    val bounds = ev.groupBy("user_id")
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    assert(out.where(col("n_obs") === 0).join(bounds, "user_id")
      .where(col("value") < col("lo") || col("value") > col("hi")).count() == 0,
      "interpolated value escapes the observation envelope")
  }

  test("text_bigram_coverage: bounds hold and the pair stream is conserved") {
    val rows = run("text_bigram_coverage").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nBi, nHit, cov) =>
      assert(nHit <= nBi && cov >= 0 && cov <= 10000)
      assert(cov == 10000 * nHit / nBi)
    }
    // sum over docs of n_bi = total corpus bigram occurrences
    val total = spark.read.parquet(s"$sf/documents.parquet")
      .select(greatest(size(split(col("text"), " ")) - 1, lit(0)).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(rows.map(_._2).sum == total)
  }

  test("embed_pca_project: orthonormal basis, axis-beating variance, stable output") {
    val (cov, n) = llm.Pca.covariance(spark, sf)
    assert(n > 0 && cov.length == cov.head.length)
    val dim = cov.length
    val evecs = llm.Pca.topEigenvectors(cov, 8)
    // orthonormality (by construction of the reorthogonalized iteration)
    for (a <- evecs.indices; b <- a until evecs.length) {
      val dot = (0 until dim).map(i => evecs(a)(i) * evecs(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"<v$a,v$b> = $dot")
    }
    // PCA optimality proxy: variance captured by the k eigendirections must
    // beat the k best coordinate axes (the axis-aligned projection any
    // column-subset "PCA" would give)
    def quad(v: Array[Double]): Double =
      (0 until dim).map(i => v(i) * (0 until dim).map(j => cov(i)(j) * v(j)).sum).sum
    val eigVar = evecs.map(quad).sum
    val axisVar = (0 until dim).map(i => cov(i)(i)).sorted.reverse.take(8).sum
    assert(eigVar >= axisVar * 0.999, s"eigen $eigVar < axes $axisVar")
    // deterministic end-to-end: two runs produce identical rounded rows
    // (decimal gram sums are shuffle-order-independent)
    val r1 = run("embed_pca_project").collect().toSeq
    val r2 = run("embed_pca_project").collect().toSeq
    assert(r1 == r2)
    assert(r1.size == spark.read.parquet(s"$sf/embeddings.parquet").count())
  }

  test("shard_balance_tokens: greedy prefix bound and contiguous shard ids") {
    val rows = run("shard_balance_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = rows.map(_._2).sum
    val budget = (total + 7) / 8
    val maxDoc = rows.map(_._2).max
    val byShard = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    // shards are exactly 0..7 and contiguous
    assert(byShard.keySet == (0L until 8L).toSet, byShard.keySet)
    // greedy prefix property: a shard can exceed its budget only by the doc
    // that straddles the boundary
    byShard.foreach { case (sid, toks) =>
      assert(toks <= budget + maxDoc, s"shard $sid holds $toks > $budget + $maxDoc")
    }
    // prefix order: shard ids are monotone in doc_id order
    val shardSeq = rows.sortBy(_._1).map(_._3)
    assert(shardSeq.zip(shardSeq.tail).forall { case (a, b) => a <= b })
  }

  test("shard_balance_tokens: adversarial doc_id skew keeps buckets balanced, results engine-exact") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sp = spark
    import sp.implicits._
    // seeded sampling (PropertySpec posture — scalatestplus forAll is not
    // in the offline cache). Each case packs ~90% of doc_ids into one
    // NARROW id range with the rest flung across a 10⁹ id space — the
    // distribution that collapses uniform (max-min)/32 range-bucketing
    // into a near-global window (one bucket owns ~everything).
    val gen = for {
      n <- Gen.choose(150, 300)
      skewPct <- Gen.choose(85, 95)
      denseStart <- Gen.choose(0L, 1000000L)
      spread <- Gen.choose(10000000L, 1000000000L)
    } yield (n, skewPct, denseStart, spread)
    val cases = (1 to 4).flatMap(i => gen(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.size == 4)
    cases.zipWithIndex.foreach { case ((n, skewPct, denseStart, spread), ci) =>
      val nDense = n * skewPct / 100
      val ids = (0 until nDense).map(i => denseStart + i) ++
        (0 until (n - nDense)).map(j => denseStart + spread + j.toLong * (spread / 64 + 1))
      val docs = ids.map(id => (id, Seq.fill((id % 37 + 1).toInt)("w").mkString(" ")))
      val dir = SparkTestBase.tempDir(s"graft_shard_skew_$ci").toString
      docs.toDF("doc_id", "text").repartition(4)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("shard_balance_tokens")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // engine-exact: the two-level scan must reproduce the single-pass
      // greedy prefix shard assignment bit-for-bit
      val toks = docs.map { case (id, text) => (id, text.split(" ", -1).length.toLong) }.sortBy(_._1)
      val total = toks.map(_._2).sum
      val budget = (total + 7) / 8
      var prior = 0L
      val want = toks.map { case (id, nt) =>
        val row = (id, nt, prior / budget); prior += nt; row
      }
      assert(got.sortBy(_._1).toSeq == want, s"case $ci: two-level scan diverged from exact prefix")
      // balance: quantile-cut buckets hold ~n/32 rows each even under this
      // skew (uniform range-width bucketing would put ~90% in one bucket)
      val bounds = spark.read.parquet(s"$dir/documents.parquet")
        .agg(expr(s"percentile_approx(doc_id, array(${(1 until 32).map(i => i / 32.0).mkString(", ")}), 10000)"))
        .head().getSeq[Long](0)
      val maxBucket = ids.groupBy(id => bounds.count(_ < id)).values.map(_.size).max
      assert(maxBucket <= n / 32 + 8,
        s"case $ci: largest bucket holds $maxBucket of $n rows — bucketing degenerated")
    }
  }

  test("multimodal_phash_neardup: brightness-invariant hash, group recall, separation") {
    import llm.ImageKernel
    // dHash invariances the operator depends on, checked on the kernel
    val base = ImageKernel.dHash(ImageKernel.gradientFrame(36, 32, 5, 7, 10, 0))
    val bright = ImageKernel.dHash(ImageKernel.gradientFrame(36, 32, 5, 7, 40, 0))
    assert(base == bright, "constant brightness shift must not change dHash")
    val pert = ImageKernel.dHash(ImageKernel.gradientFrame(36, 32, 5, 7, 10, 21))
    assert(java.lang.Long.bitCount(base ^ pert) <= 6, "rect perturbation must stay near")
    val other = ImageKernel.dHash(ImageKernel.gradientFrame(36, 32, 6, 11, 10, 0))
    assert(java.lang.Long.bitCount(base ^ other) > 6, "different structure must be far")
    // PNG round trip feeds the hash (decode path is load-bearing)
    val png = ImageKernel.encodePng(ImageKernel.gradientFrame(36, 32, 5, 7, 10, 0))
    assert(ImageKernel.dHash(ImageKernel.decode(png).get) == base)
    val rows = run("multimodal_phash_neardup").collect()
    val n = rows.length.toLong
    assert(n == spark.read.parquet(s"$sf/documents.parquet").count())
    // recall: members of complete 10-doc groups see most siblings
    val full = rows.filter(_.getLong(0) / 10 < n / 10)
    assert(full.count(_.getLong(2) >= 5) * 10 >= full.length * 9,
      "too few group members recovered ≥5 near-dups")
    // separation: structures are distinct for the first 667 groups, so no
    // doc can exceed its group's 9 siblings
    assert(rows.forall(_.getLong(2) <= 9), "cross-group collision")
  }

  test("join_asof/_nearest: map-side max_by/min_by pick ≡ window formulation") {
    // The shipped as-of joins pick the match with a combinable max_by/min_by
    // agg (one row per event on the exchange); this pins their results to
    // the windowed-dedup formulation they replaced, proving the ordering
    // structs encode the same total order as the window ORDER BY.
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("ts_ms"))
    val o = Tables.t(spark, sf, "orders")
    val wB = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val windowed = e
      .join(o, e("user_id") === o("o_custkey") && o("o_orderdate") <= e("ts_ts"))
      .withColumn("rn", row_number().over(wB)).where(col("rn") === 1)
      .select(col("event_id"), col("ts_ms"), col("o_orderkey"), col("o_orderdate"))
    assert(run("join_asof").exceptAll(windowed).isEmpty &&
      windowed.exceptAll(run("join_asof")).isEmpty, "join_asof pick diverged")
    val dist = abs(col("ts_ms") - unix_millis(col("o_orderdate").cast("timestamp")))
    val wN = Window.partitionBy(col("event_id")).orderBy(dist, col("o_orderkey"))
    val windowedN = e.select(col("event_id"), col("user_id"), col("ts_ms"))
      .join(o, col("user_id") === col("o_custkey"))
      .withColumn("rn", row_number().over(wN)).where(col("rn") === 1)
      .select(col("event_id"), col("ts_ms"), col("o_orderkey"),
        dist.cast("long").as("dist_ms"))
    assert(run("join_asof_nearest").exceptAll(windowedN).isEmpty &&
      windowedN.exceptAll(run("join_asof_nearest")).isEmpty,
      "join_asof_nearest pick diverged")

    // Dup-event_id robustness: the as-of cores
    // group by event_id ALONE, so an event_id occurring twice with
    // divergent ts values must still collapse to one row per event — and
    // that row must equal the window formulation extended with the same ts
    // tie-break. The real events table has unique event_ids, so this case
    // is driven synthetically: each sampled event duplicated a year later.
    val base = e.orderBy("event_id").limit(5)
    val dup = base.union(base
      .withColumn("ts_ts", col("ts_ts") + expr("INTERVAL 365 DAYS"))
      .withColumn("ts_ms", col("ts_ms") + lit(365L * 86400000L)))
    val picked = graft.rel.Joins.asofPick(dup, o)
    // inner-join semantics: an event with no qualifying order emits nothing,
    // so assert one-row-per-EMITTED-event, not one per sampled event
    assert(picked.count() == picked.select("event_id").distinct().count(),
      "dup event_id emitted multiple rows per event")
    val wDup = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc, col("ts_ms").desc)
    val windowedDup = dup
      .join(o, dup("user_id") === o("o_custkey") && o("o_orderdate") <= dup("ts_ts"))
      .withColumn("rn", row_number().over(wDup)).where(col("rn") === 1)
      .select(col("event_id"), col("ts_ms"), col("o_orderkey"), col("o_orderdate"))
    assert(picked.exceptAll(windowedDup).isEmpty &&
      windowedDup.exceptAll(picked).isEmpty, "dup-event_id asof pick diverged")
    val dupN = dup.select(col("event_id"), col("user_id"), col("ts_ms"))
    val pickedN = graft.rel.Joins.asofNearestPick(dupN, o)
    assert(pickedN.count() == pickedN.select("event_id").distinct().count(),
      "dup event_id emitted multiple nearest rows per event")
    val wDupN = Window.partitionBy(col("event_id")).orderBy(dist, col("o_orderkey"), col("ts_ms"))
    val windowedDupN = dupN.join(o, col("user_id") === col("o_custkey"))
      .withColumn("rn", row_number().over(wDupN)).where(col("rn") === 1)
      .select(col("event_id"), col("ts_ms"), col("o_orderkey"),
        dist.cast("long").as("dist_ms"))
    assert(pickedN.exceptAll(windowedDupN).isEmpty &&
      windowedDupN.exceptAll(pickedN).isEmpty, "dup-event_id nearest pick diverged")
  }

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  test("exact-dup collapse: gram kernels ≡ naive all-pairs on an adversarial corpus") {
    // The exact-dup collapse (verify distinct gram sets once, expand
    // matches back through gid-keyed joins) must be OUTPUT-equivalent to
    // the naive per-pair definition. The sf corpora exercise it lightly,
    // so this drives the edge cases directly: duplicate groups of size 2
    // and 3, identical text in DIFFERENT sources (must never pair),
    // interleaved doc ids across groups (exercises least/greatest in the
    // expansion), an empty and a sub-gram-length doc (NaN self-similarity
    // must drop, exactly like the per-pair NaN comparison did), and a
    // containment-only pair (subset gram sets below the Jaccard band).
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t1b = "alpha beta gamma delta epsilon zeta eta iota"
    val t2 = "completely different content with no overlap at all whatsoever"
    val docs = Seq(
      (1L, t1, "A"), (10L, t1, "A"), (30L, t1, "A"), // dup group, interleaved ids
      (20L, t1b, "A"), // near-dup of the group
      (40L, "", "A"), (41L, "ab", "A"), // empty gram sets (NaN path)
      (50L, t2, "A"),
      (2L, t1, "B"), (25L, t1, "B"), // same text, other source
      (35L, t1 + " omega psi chi rho sigma", "B")) // contains t1
    val dir = "target/tmp_collapse_docs"
    docs.map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def charGrams(t: String): Set[String] =
      (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    def wordGrams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      (0 to w.length - 3).map(i => w(i) + " " + w(i + 1) + " " + w(i + 2)).toSet
    }
    def naive(grams: String => Set[String], score: (Int, Int, Int) => Double,
        tau: Double, skipEmpty: Boolean): Seq[(String, Long, Long, Double)] =
      (for {
        (i, ti, si) <- docs; (j, tj, sj) <- docs
        if si == sj && i < j
        gi = grams(ti); gj = grams(tj)
        if !skipEmpty || (gi.nonEmpty && gj.nonEmpty)
        sc = score(gi.size, gj.size, (gi & gj).size)
        if !sc.isNaN && sc >= tau
      } yield (si, i, j, r6(sc))).sortBy(p => (p._1, p._2, p._3))

    val gotJac = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2, p._3))
    val expJac = naive(charGrams,
      (na, nb, sh) => sh.toDouble / (na + nb - sh).toDouble, 0.8, skipEmpty = false)
    assert(gotJac == expJac, s"jaccard collapse diverged:\n got $gotJac\n exp $expJac")
    assert(expJac.count(_._4 == 1.0) == 3 + 1 && expJac.exists(_._4 < 1.0),
      "fixture must exercise both within-group (sim 1.0) and cross-group pairs")
    assert(!gotJac.exists(p => p._2 >= 40L && p._3 <= 41L), "empty-gram NaN pair leaked")

    val gotCont = SparkEntry.queries("dedup_containment")(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2, p._3))
    val expCont = naive(wordGrams,
      (na, nb, sh) => sh.toDouble / math.min(na, nb).toDouble, 0.5, skipEmpty = true)
    assert(gotCont == expCont, s"containment collapse diverged:\n got $gotCont\n exp $expCont")
    assert(expCont.exists(p => p._1 == "B" && p._3 == 35L && p._4 == 1.0),
      "fixture must exercise the asymmetric containment pair")
  }

  // D plus a verbatim copy of every row, ids shifted by an offset ≡ 0 mod
  // 10 past every id: each copy pairs with its original (the within-group
  // pair of a collapsed group) and with every partner of its original at
  // the same score, and nothing else changes, so the pair keys' output on
  // the doubled data is predicted exactly by their output on D.
  private val CopyOff = 1000000000L
  private lazy val copyDir: String = {
    val dir = "target/tmp_collapse_copy"
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, id) =>
      val df = spark.read.parquet(s"$sf/$t.parquet")
      df.unionByName(df.withColumn(id, col(id) + CopyOff))
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }
  private lazy val baseDocs: Seq[(Long, String, String)] =
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
  private lazy val baseVecs: Seq[(Long, Int, Seq[Float])] =
    spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2))).toSeq
  private def words(t: String): Int = t.split(" ", -1).length
  private def selfCos(v: Seq[Float]): Double = {
    val dot = v.map(x => x.toDouble * x.toDouble).sum
    r6(dot / (math.sqrt(dot) * math.sqrt(dot)))
  }
  private def sortedRows(key: String, d: String): Seq[Seq[Any]] =
    SparkEntry.queries(key)(spark, d).collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  // per key: the (scope…, x, x + off, score) pair of each base row whose
  // self-similarity passes the key's threshold
  private val copyCases: Seq[(String, () => Seq[Seq[Any]])] = Seq(
    "dedup_minhash_near" -> (() => baseDocs.collect {
      case (id, _, t) if words(t) >= 5 => Seq[Any](id, id + CopyOff, 1.0) }),
    "dedup_simhash" -> (() => baseDocs.map { case (id, _, _) => Seq[Any](id, id + CopyOff, 0L) }),
    "dedup_ngram_jaccard" -> (() => baseDocs.collect {
      case (id, src, t) if t.length >= 3 => Seq[Any](src, id, id + CopyOff, 1.0) }),
    "dedup_containment" -> (() => baseDocs.collect {
      case (id, src, t) if words(t) >= 3 => Seq[Any](src, id, id + CopyOff, 1.0) }),
    "sim_join_threshold" -> (() => baseVecs.collect {
      case (id, l, v) if v.exists(_ != 0f) => Seq[Any](l.toLong, id, id + CopyOff, selfCos(v)) }))

  copyCases.foreach { case (key, selfPairs) =>
    test(s"exact-dup collapse: $key on D plus a verbatim copy ≡ the pairs predicted from D") {
      val base = sortedRows(key, sf)
      val predicted = (base.flatMap { r =>
        val (scope, Seq(i: Long, j: Long, v)) = r.splitAt(r.length - 3)
        Seq(Seq(i, j), Seq(i + CopyOff, j + CopyOff), Seq(i, j + CopyOff), Seq(j, i + CopyOff))
          .map(p => (scope ++ p) :+ v)
      } ++ selfPairs()).sortBy(_.mkString(","))
      val got = sortedRows(key, copyDir)
      info(s"${base.size} pairs on D, ${got.size} on D plus its copy")
      assert(got == predicted, s"first differences: ${got.diff(predicted).take(3)} " +
        s"vs ${predicted.diff(got).take(3)}")
    }
  }

  test("exact-dup collapse: dedup_embed_cosine on D plus a verbatim copy drops every copy") {
    // the drop set keeps D's drops and adds the copy of every vector with a
    // finite self-cosine (the zero vector's NaN never drops)
    val base = sortedRows("dedup_embed_cosine", sf).map(_.head)
    val predicted = (base ++ baseVecs.collect {
      case (id, _, v) if v.exists(_ != 0f) => id + CopyOff }).sortBy(_.toString)
    assert(sortedRows("dedup_embed_cosine", copyDir).map(_.head) == predicted)
  }

  test("Q.mean6 rounds the exact mean once: 253491 / 9942 = 25.496982") {
    // 9941 rows of 25 and one of 4966: sum 253491 over 9942 rows. The exact
    // mean 25.4969824985… rounds half-up to 25.496982; rounding first to 8
    // places (25.49698250) and then to 6 gave 25.496983
    val m = spark.range(9942)
      .select(when(col("id") === 0, 4966).otherwise(25).as("x"))
      .agg(Q.mean6(Q.dec4(col("x"))))
      .head().getDouble(0)
    assert(m == 25.496982)
  }

  test("exact-dup collapse: cosine kernel ≡ naive all-pairs, labels and zero vectors") {
    // Same contract for the cosine keys: identical vectors collapse to one
    // representative per distinct (label, vector) — identical vectors with
    // DIFFERENT labels must still pair in the unscoped mode but never in
    // the label-scoped one, the all-zero vector's NaN cosine must drop,
    // and the emitted label must be the lower-id member's.
    import spark.implicits._
    val e1 = Array(1f, 2f, 3f, 4f)
    val e1n = Array(1.05f, 2f, 3f, 4f) // near e1, cosine ≈ 0.9996
    val orth = Array(-4f, 3f, -2f, 1.5f) // cosine vs e1 ≈ 0
    val zero = Array(0f, 0f, 0f, 0f)
    val vecs = Seq(
      (1L, e1, 1), (6L, e1, 1), (3L, e1, 2), // dup group straddling labels
      (4L, e1n, 1),
      (5L, zero, 1), (7L, zero, 1),
      (8L, orth, 1))
    val dir = "target/tmp_collapse_vecs"
    vecs.toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (va, vb) = (a.map(_.toDouble), b.map(_.toDouble))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    def naive(sameLabel: Boolean): Seq[(Long, Long, Long, Double)] =
      (for {
        (i, vi, li) <- vecs; (j, vj, lj) <- vecs
        if i < j && (!sameLabel || li == lj)
        sc = cos(vi, vj)
        if !sc.isNaN && r6(sc) >= 0.35
      } yield (li.toLong, i, j, r6(sc))).sortBy(p => (p._1, p._2, p._3))

    val gotSim = SparkEntry.queries("sim_join_threshold")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2, p._3))
    assert(gotSim == naive(sameLabel = true),
      s"label-scoped cosine collapse diverged: $gotSim vs ${naive(sameLabel = true)}")
    assert(!gotSim.exists(p => Set(p._2, p._3).contains(3L)),
      "cross-label pair leaked into the label-scoped join")

    val gotDrop = SparkEntry.queries("dedup_embed_cosine")(spark, dir)
      .as[Long].collect().toSeq.sorted
    val expDrop = naive(sameLabel = false).map(_._3).distinct.sorted
    assert(gotDrop == expDrop, s"unscoped drop set diverged: $gotDrop vs $expDrop")
    assert(expDrop.contains(3L), "fixture must pair identical vectors across labels")
    assert(!expDrop.contains(7L), "zero-vector NaN pair leaked")
  }

  test("join_theta_range: histogram arithmetic ≡ pair enumeration on sparse size domains") {
    // The histogram form (n_pairs = c·(neighborhood−1), no pair
    // join) must match the pair-enumeration definition on distributions
    // the part table never exhibits: an isolated size with a single row
    // (zero pairs — the oracle emits NO row, not n_pairs=0), an isolated
    // size with several rows (self-pairs only), and adjacent sparse sizes.
    import spark.implicits._
    val sizes = Seq(1, 1, 1, 2, 2, 3, 10, 20, 20, 21, 30, 30, 40)
    val dir = "target/tmp_theta_parts"
    sizes.zipWithIndex.map { case (sz, i) =>
      (i.toLong + 1, s"part$i", "B", "T", sz, 1.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .repartition(3).write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("join_theta_range")(spark, dir)
      .as[(Int, Long)].collect().toSeq
    val expected = sizes.distinct.sorted.flatMap { s =>
      val neighborhood = sizes.count(a => math.abs(a - s) <= 1)
      val pairs = sizes.count(_ == s).toLong * (neighborhood - 1)
      if (pairs > 0) Some((s, pairs)) else None
    }
    assert(got == expected, s"got $got expected $expected")
    assert(!got.exists(g => g._1 == 10 || g._1 == 40),
      "single isolated rows must emit no group")
    assert(got.contains((30, 2L)), "isolated multi-row size keeps its self-pairs")
  }

  test("negative_sampling_pairs: bucket top-2 rewrite is exact at replica-offset id scale") {
    // The per-bucket top-2 agg + broadcast join (in place of an N²/32
    // candidate join) and the mod-before-multiply hash are both driven at
    // the id range that breaks the naive forms: ids offset by rep·10⁹,
    // where a raw product hash overflows BIGINT. Reference is
    // the ring definition computed directly in the driver.
    import spark.implicits._
    val ids = (1L to 40L) ++ (1L to 40L).map(_ + 10000000000L)
    val dir = "target/tmp_negsamp"
    ids.map(id => (id, s"doc $id", "en", "A", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def bucket(id: Long) = ((id % 32L) * (2654435761L % 32L)) % 32L
    def hk(id: Long) = ((id % 1048576L) * 40503L) % 1048576L
    val byBucket = ids.groupBy(bucket)
    val expected = (for {
      id <- ids
      nb = (bucket(id) + 1L) % 32L
      (neg, rank) <- byBucket.getOrElse(nb, Seq.empty)
        .sortBy(n => (hk(n), n)).take(2).zipWithIndex
    } yield (id, rank + 1L, neg)).sortBy(p => (p._1, p._2))
    val got = SparkEntry.queries("negative_sampling_pairs")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected,
      s"bucket top-2 rewrite diverged at offset ids: got ${got.take(5)}… exp ${expected.take(5)}…")
  }

  test("sql_api_q2: correlated-min subquery ≡ window argmin over the joined fact") {
    // Semantic pin independent of the DuckDB oracle: the decorrelated
    // scalar-min subquery must return exactly the rows a window-based
    // argmin produces over the same AFRICA-joined fact — the formulation a
    // pipeline would write if Spark lacked correlated subqueries.
    import spark.implicits._
    val Seq(part, supplier, nation, region, lineitem) =
      Seq("part", "supplier", "nation", "region", "lineitem")
        .map(t => Tables.t(spark, sf, t))
    val joined = lineitem
      .join(supplier, col("s_suppkey") === col("l_suppkey"))
      .join(nation, col("n_nationkey") === col("s_nationkey"))
      .join(broadcast(region.where(col("r_name") === "AFRICA")),
        col("r_regionkey") === col("n_regionkey"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    val windowForm = joined
      .withColumn("mn", min(col("l_extendedprice")).over(w))
      .where(col("l_extendedprice") === col("mn"))
      .join(part.where(col("p_size") <= 10), col("p_partkey") === col("l_partkey"))
      .select(col("p_partkey").cast("long"), col("s_suppkey").cast("long"),
        col("s_name"), col("n_name"), col("l_extendedprice").cast("double"))
      .distinct()
      .as[(Long, Long, String, String, Double)].collect().toSet
    val got = run("sql_api_q2")
      .as[(Long, Long, String, String, Double)].collect().toSet
    assert(got == windowForm,
      s"correlated-min ≠ window argmin: only-subq ${(got -- windowForm).take(3)}… " +
        s"only-window ${(windowForm -- got).take(3)}…")
  }

  test("sample_temperature_lang: rates normalize to the rarest lang and flatten the mix") {
    import spark.implicits._
    val rows = run("sample_temperature_lang")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byTotal = rows.sortBy(_._2)
    // the rarest language keeps everything: rate = 2^20 exactly and every
    // doc passes the hash filter
    assert(byTotal.head._4 == 1048576L, s"rarest rate ${byTotal.head._4}")
    assert(byTotal.head._3 == byTotal.head._2, "rarest lang lost docs")
    // rates are anti-monotone in corpus size (sqrt(n_min/n_l) decreasing)
    byTotal.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 >= b._4, s"rate not anti-monotone: $a vs $b")
    }
    // each lang's kept fraction tracks its rate: the multiplicative hash is
    // near-uniform, so |n_kept/n_total − rate/2^20| stays small (the data
    // and hash are deterministic — these bounds are exact regression pins,
    // not statistical hopes)
    rows.foreach { case (lang, total, kept, rate20) =>
      val expectedFrac = rate20.toDouble / 1048576d
      val gotFrac = kept.toDouble / total
      assert(math.abs(gotFrac - expectedFrac) <= 0.05 + 10.0 / total,
        f"$lang kept frac $gotFrac%.4f vs rate $expectedFrac%.4f")
    }
    // flattening: the kept mix is strictly flatter than the natural mix
    val natSkew = byTotal.last._2.toDouble / byTotal.head._2
    val keptSkew = rows.map(_._3).max.toDouble / rows.map(_._3).min
    assert(keptSkew < natSkew,
      f"temperature sampling did not flatten: kept $keptSkew%.2f vs natural $natSkew%.2f")
  }

  test("substring-dedup detection bounds: stride needs mod-10 alignment; winnowing does not") {
    val sp = spark
    import sp.implicits._
    val alphabet = ('a' to 'z').mkString + " "
    def rand(n: Int, r: scala.util.Random): String =
      (1 to n).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    def gramSets(df: org.apache.spark.sql.DataFrame,
        kernel: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val g = kernel(df).collect().map(r => (r.getLong(0), r.getString(1)))
      (g.filter(_._1 == 1L).map(_._2).toSet, g.filter(_._1 == 2L).map(_._2).toSet)
    }
    // (1) winnowing GUARANTEE: a planted common run of length >= 49 is
    // detected at ANY relative alignment — deterministic seed sweep over
    // random contents, lengths, and (deliberately unequal mod 10) offsets
    for (seed <- 1 to 20) {
      val r = new scala.util.Random(seed)
      val run = rand(49 + r.nextInt(80), r)
      val pa = 1 + r.nextInt(40)
      val pb = 1 + r.nextInt(40)
      val a = rand(pa, r) + run + rand(1 + r.nextInt(30), r)
      val b = rand(pb, r) + run + rand(1 + r.nextInt(30), r)
      val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      val (wa, wb) = gramSets(df, llm.Pipeline.winnowGrams)
      assert((wa intersect wb).nonEmpty,
        s"seed $seed: winnow missed a ${run.length}-char run at offsets $pa/$pb")
    }
    // (2) stride kernel's alignment condition: the SAME 200-char run placed
    // at offsets 1 and 2 (mod-10 misaligned) shares NO sampled gram — the
    // positional kernel misses verbatim duplication of ANY length when the
    // copies disagree mod 10 — while winnowing detects it
    val r2 = new scala.util.Random(99)
    val longRun = rand(200, r2)
    val misA = longRun + rand(20, r2)                 // run starts at 1
    val misB = rand(1, r2) + longRun + rand(20, r2)   // run starts at 2
    val misDf = Seq((1L, misA), (2L, misB)).toDF("doc_id", "text")
    val (sa, sb) = gramSets(misDf, llm.Pipeline.strideGrams)
    assert((sa intersect sb).isEmpty, "stride unexpectedly matched a misaligned run")
    val (wa2, wb2) = gramSets(misDf, llm.Pipeline.winnowGrams)
    assert((wa2 intersect wb2).nonEmpty, "winnow missed the misaligned 200-char run")
    // (3) stride's pinned bound at EQUAL alignment: 49 chars always found
    // (a sampled 40-window fits at the same run offset in both copies);
    // 48 chars can dodge the stride when the run starts at offset ≡ 2
    // (mod 10) — sampled starts are ≡ 1 (mod 10) and the window interval
    // spans only 9 positions
    val r3 = new scala.util.Random(7)
    val run49 = rand(49, r3)
    val al49 = Seq(
      (1L, rand(11, r3) + run49 + rand(15, r3)),   // run at 12 ≡ 2 (mod 10)
      (2L, rand(21, r3) + run49 + rand(15, r3))    // run at 22 ≡ 2 (mod 10)
    ).toDF("doc_id", "text")
    val (a49, b49) = gramSets(al49, llm.Pipeline.strideGrams)
    assert((a49 intersect b49).nonEmpty, "stride missed an aligned 49-char run")
    val run48 = rand(48, r3)
    val al48 = Seq(
      (1L, rand(11, r3) + run48 + rand(15, r3)),
      (2L, rand(21, r3) + run48 + rand(15, r3))
    ).toDF("doc_id", "text")
    val (a48, b48) = gramSets(al48, llm.Pipeline.strideGrams)
    assert((a48 intersect b48).isEmpty, "48-char run at offset ≡ 2 (mod 10) should dodge the stride")
  }

  test("quality_perplexity_trigram: backoff branch fires on singleton trigrams and matches a plain-Scala reference") {
    val sp = spark
    import sp.implicits._
    // synthetic corpus: a repetitive base plus ONE document with unique
    // characters, guaranteeing singleton trigrams (the gate corpus has
    // none — every trigram there occurs ≥ 17 times, so this branch is
    // spec-covered rather than oracle-covered by design)
    val texts = Seq(
      0L -> "abcabcabcabcabc",
      1L -> "abcabcabcabc",
      2L -> "abcxyzqabc",     // xyz / yzq / zqa etc. occur exactly once
      3L -> "bcabcabca")
    val dir = SparkTestBase.tempDir("graft_tri_prop").toString
    texts.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // plain-Scala reference of the declared semantics
    val tri = scala.collection.mutable.Map.empty[String, Long]
    val ctx = scala.collection.mutable.Map.empty[String, Long]
    val big = scala.collection.mutable.Map.empty[String, Long]
    val uni = scala.collection.mutable.Map.empty[Char, Long]
    texts.foreach { case (_, t) =>
      if (t.length >= 3) (0 to t.length - 3).foreach { i =>
        tri(t.substring(i, i + 3)) = tri.getOrElse(t.substring(i, i + 3), 0L) + 1
        ctx(t.substring(i, i + 2)) = ctx.getOrElse(t.substring(i, i + 2), 0L) + 1
      }
      if (t.length >= 2) (0 to t.length - 2).foreach { i =>
        big(t.substring(i, i + 2)) = big.getOrElse(t.substring(i, i + 2), 0L) + 1
        uni(t.charAt(i)) = uni.getOrElse(t.charAt(i), 0L) + 1
      }
    }
    var backoffs = 0
    val expected = texts.filter(_._2.length >= 3).map { case (id, t) =>
      val qs = (0 to t.length - 3).map { i =>
        val t3 = t.substring(i, i + 3)
        if (tri(t3) >= 2) tri(t3) * 1000000L / ctx(t.substring(i, i + 2))
        else { backoffs += 1; 400000L * big(t.substring(i + 1, i + 3)) / uni(t.charAt(i + 1)) }
      }
      (id, (t.length - 2).toLong, qs.sum / qs.length)
    }.sortBy(_._1)
    assert(backoffs > 0, "fixture failed to exercise the backoff branch")
    val got = SparkEntry.queries("quality_perplexity_trigram")(sp, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexpected $expected")
  }

  test("text kernels == the HOF expressions they replaced (round-16 codegen loops)") {
    // the byte-loop kernels replace interpreted HOFs that dominate the LM
    // scorers and the fingerprint min; they must be value-identical to the
    // aggregate/transform forms on real corpus text (both run here side by
    // side on the same rows)
    val sp = spark
    import sp.implicits._
    val docs = Tables.t(spark, sf, "documents")
      .where(length(col("text")) >= 8).limit(200)
    // min-md5 fingerprint vs the transform/array_min HOF
    val fpRows = docs.select(
      graft.udx.TextExpr.minGramMd5(spark, col("text"), 8).as("kernel"),
      expr("array_min(transform(sequence(1, length(text) - 7), i -> md5(substring(text, i, 8))))").as("hof"))
      .collect()
    assert(fpRows.nonEmpty && fpRows.forall(r => r.getString(0) == r.getString(1)))
    // dense bigram cube vs the aggregate HOF on a tiny synthetic model
    val minC = 'a'.toInt
    val span = 26
    val q = Array.tabulate(span * span)(i => (i * 31 + 7).toLong)
    val lmRows = Seq("abcabz", "zzzaab").toDF("text").select(
      graft.udx.TextExpr.gramScoreSum(spark, "t_lm2", col("text"), q, null, minC, span, 2).as("kernel"),
      aggregate(sequence(lit(1), length(col("text")) - 1), lit(0L),
        (acc, i) => acc + element_at(typedlit(q.toSeq),
          (ascii(col("text").substr(i, lit(1))) - minC) * span +
            (ascii(col("text").substr(i + 1, lit(1))) - minC) + 1)).as("hof"))
      .collect()
    assert(lmRows.forall(r => r.getLong(0) == r.getLong(1)))
    // rank-compressed trigram cube vs the HOF (ranks over 3 chars)
    val rk = new Array[Int](26)
    Seq('a', 'b', 'z').zipWithIndex.foreach { case (c, i) => rk(c - minC) = i + 1 }
    val a3 = 3
    val q3 = Array.tabulate(a3 * a3 * a3)(i => (i * 17 + 3).toLong)
    val triRows = Seq("abzabz", "zzabba").toDF("text").select(
      graft.udx.TextExpr.gramScoreSum(spark, "t_lm3", col("text"), q3, rk, minC, a3, 3).as("kernel"),
      aggregate(sequence(lit(1), length(col("text")) - 2), lit(0L),
        (acc, i) => acc + element_at(typedlit(q3.toSeq),
          ((element_at(typedlit(rk.toSeq), ascii(col("text").substr(i, lit(1))) - minC + 1) - 1) * a3 +
            (element_at(typedlit(rk.toSeq), ascii(col("text").substr(i + 1, lit(1))) - minC + 1) - 1)) * a3 +
            element_at(typedlit(rk.toSeq), ascii(col("text").substr(i + 2, lit(1))) - minC + 1))).as("hof"))
      .collect()
    assert(triRows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("dedup_substring_runlen: reports the EXACT planted run length at any alignment") {
    val sp = spark
    import sp.implicits._
    val alphabet = ('a' to 'z').mkString + " "
    def rand(n: Int, r: scala.util.Random): String =
      (1 to n).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    val r = new scala.util.Random(41)
    val run = rand(137, r)
    // misaligned offsets (5 vs 12) — the run-length operator is
    // alignment-free by construction (full-density grams)
    val twin = rand(83, r)
    val texts = Seq(
      1L -> (rand(5, r) + run + rand(23, r)),
      2L -> (rand(12, r) + run + rand(9, r)),
      3L -> rand(120, r),   // no shared content → 0
      4L -> rand(60, r),
      5L -> twin,           // exact twins: longest = full length via the
      6L -> twin)           // collapse branch, no pair join involved
    val dir = SparkTestBase.tempDir("graft_runlen_prop").toString
    texts.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_substring_runlen")(sp, dir)
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    assert(got == Map(1L -> 137L, 2L -> 137L, 3L -> 0L, 4L -> 0L,
      5L -> 83L, 6L -> 83L), got.toString)
  }

  test("dedup_incremental_minhash: batch near-dups matched to index, novel flagged, batch-batch ignored") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    val base = words.mkString(" ")                        // index doc 7's text
    val nearDup = (words.take(38) :+ "zz" :+ "yy").mkString(" ") // ~0.9 jaccard vs base
    val texts = Seq(
      7L -> base,            // index
      15L -> nearDup,        // batch: near-dup of 7
      25L -> (0 until 40).map(i => s"u$i").mkString(" "), // batch: novel
      35L -> nearDup,        // batch: identical to batch 15 — batch-batch must NOT count
      8L -> base)            // index: exact dup of 7 (same gram set)
    val dir = SparkTestBase.tempDir("graft_incmh").toString
    texts.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_incremental_minhash")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getBoolean(4)))).toMap
    // 15 and 35 each match BOTH index copies of the base text (7 and 8),
    // best match = min id 7; each other (identical, batch-batch) is ignored
    assert(got(15L) == ((2L, 7L, false)), got.toString)
    assert(got(35L) == ((2L, 7L, false)), got.toString)
    assert(got(25L) == ((0L, -1L, true)), got.toString)
    assert(got.keySet == Set(15L, 25L, 35L), got.toString)
  }

  test("join_asof packed picks: digit-budget violation raises loudly, never a silent drop") {
    // With ANSI off, an out-of-budget component
    // would NULL the packed CAST/multiply and max()/min() would silently
    // drop that candidate — a wrong pick with no error. The CASE guard must
    // raise instead. Driven synthetically: the real tables stay within
    // budget, so each case plants exactly one over-budget component.
    import spark.implicits._
    def msgChain(t: Throwable): String = {
      val sb = new StringBuilder
      var cur: Throwable = t
      while (cur != null) { sb.append(cur.getMessage).append('|'); cur = cur.getCause }
      sb.toString
    }
    // D9: o_orderkey = 1e15 breaches the 0 <= o_orderkey < 10^15 budget
    val e = Seq((1L, 42L, java.sql.Timestamp.valueOf("2020-06-01 00:00:00"), 1000L))
      .toDF("event_id", "user_id", "ts_ts", "ts_ms")
    val oBad = Seq((1000000000000000L, 42L, java.sql.Date.valueOf("2020-01-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val ex = intercept[Throwable] { graft.rel.Joins.asofPick(e, oBad).collect() }
    assert(msgChain(ex).contains("digit budget violated"), msgChain(ex))
    // control: the same shape within budget picks cleanly
    val oOk = Seq((7L, 42L, java.sql.Date.valueOf("2020-01-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val picked = graft.rel.Joins.asofPick(e, oOk).collect()
    assert(picked.length == 1 && picked(0).getLong(2) == 7L)
    // D9n: dist_ms >= 1e13 breaches the nearest pick's distance budget
    // (ts_ms ~317,000 years from the order date)
    val eFar = Seq((1L, 42L, 20000000000000000L)).toDF("event_id", "user_id", "ts_ms")
    val exN = intercept[Throwable] {
      graft.rel.Joins.asofNearestPick(eFar, oOk.withColumn("o_orderdate",
        col("o_orderdate").cast("date"))).collect()
    }
    assert(msgChain(exN).contains("digit budget violated"), msgChain(exN))
  }

  test("Tables.fingerprint: rename + regeneration invalidation") {
    // The fingerprint must change when a subdirectory is renamed even
    // though every file inside keeps its name/size/mtime, and when a table
    // is regenerated in place.
    val root = SparkTestBase.tempDir("graft_fp").toString
    val tdir = new java.io.File(s"$root/documents.parquet/sub"); tdir.mkdirs()
    val f = new java.io.File(tdir, "part-0.bin")
    java.nio.file.Files.writeString(f.toPath, "payload")
    f.setLastModified(1700000000000L)
    val fp1 = Tables.fingerprint(root, "documents")
    assert(tdir.renameTo(new java.io.File(s"$root/documents.parquet/sub2")))
    new java.io.File(s"$root/documents.parquet/sub2/part-0.bin").setLastModified(1700000000000L)
    val fp2 = Tables.fingerprint(root, "documents")
    assert(fp1 != fp2, "directory rename did not change the fingerprint")
    // absent table stamps as absent instead of throwing
    assert(Tables.fingerprint(root, "nosuch").nonEmpty)
  }

  test("LM memo + reader cache: in-place dataset regeneration hits the miss path") {
    // The bigram LM memo is keyed on the content fingerprint, so
    // regenerating documents.parquet IN PLACE within one JVM must re-train
    // the model — a (session, path) key would serve
    // corpus A's model for corpus B's scoring pass. Proven end-to-end
    // through the public query: after regeneration the scores must equal
    // an independent cache-free formulation computed on corpus B; a stale
    // A-model would produce different score_micro values by construction
    // (opposite bigram skew over the same alphabet keeps every lookup
    // in-range, so staleness corrupts values rather than erroring).
    import spark.implicits._
    val dir = SparkTestBase.tempDir("graft_regen").toString
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "synth", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent expectation: the oracle formula, computed fresh each call
    def expected(): Map[Long, Long] = {
      val pos = Tables.t(spark, dir, "documents").where(length(col("text")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")).as("bg"))
        .withColumn("c1", substring(col("bg"), 1, 1))
      val cb = pos.groupBy("bg").agg(count(lit(1)).as("nb"))
      val cu = pos.groupBy("c1").agg(count(lit(1)).as("nu"))
      pos.join(cb, "bg").join(cu, "c1")
        .groupBy("doc_id")
        .agg(expr("sum(nb * 1000000 div nu) div count(*)").as("score_micro"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def got(): Map[Long, Long] =
      SparkEntry.queries("quality_perplexity_proxy")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    writeDocs(Seq("aaaaaaaaab", "aabaaabaaa", "abababab"))   // corpus A: a-heavy
    assert(got() == expected(), "corpus A scores diverged from cache-free formulation")
    writeDocs(Seq("bbbbbbbbba", "bbabbbabbb", "babababa"))   // corpus B: opposite skew
    assert(got() == expected(),
      "post-regeneration scores diverged — stale model/listing served from a path-keyed cache")
  }

  test("scan_partition_prune re-stages its layout when orders.parquet is regenerated in place") {
    // The staged partitioned layout is keyed on the orders fingerprint: a
    // marker that ignores content would keep serving the first
    // generation's layout after the rewrite below.
    val dir = SparkTestBase.tempDir("graft_restage").toString
    val staging = Tables.stagingDir("graft_prune_orders", dir)
    val src = Tables.t(spark, sf, "orders")
    def regen(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // distinct mtime, so a same-millisecond rewrite cannot alias the
      // previous generation's fingerprint
      new java.io.File(s"$dir/orders.parquet").listFiles()
        .foreach(f => f.setLastModified(f.lastModified() + 2000))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().toSeq.map(r => (r.get(0).toString.toLong, r.getLong(1), r.getDouble(2)))
    def direct(): Seq[(Long, Long, Double)] = rows(Tables.t(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .where(col("yr").isin(1996L, 1997L))
      .groupBy("yr")
      .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
      .orderBy("yr"))
    def viaKey(): Seq[(Long, Long, Double)] =
      rows(SparkEntry.queries("scan_partition_prune")(spark, dir))
    try {
      regen(src)
      assert(viaKey() == direct())
      regen(src.where(col("o_orderkey") % 3 === 0))
      val fresh = direct()
      assert(fresh.nonEmpty)
      assert(viaKey() == fresh, "stale staged layout served after in-place regeneration")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("agg_weighted_median on an empty lineitem returns no rows instead of throwing") {
    val dir = SparkTestBase.tempDir("graft_empty_lineitem").toString
    spark.read.parquet(s"$sf/lineitem.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(SparkEntry.queries("agg_weighted_median")(spark, dir).collect().isEmpty)
  }

  test("text_bigram_coverage and the dedup label keys serve fresh results after documents.parquet is regenerated in place") {
    // Their memos (top-1000 pair set, minhash state, converged labels) are
    // keyed on the documents fingerprint: a path key would keep serving the
    // first generation's artifact to the session that built it. The second
    // generation upper-cases every text (a disjoint pair vocabulary) and
    // shifts every doc_id (disjoint labels), so a stale artifact cannot
    // reproduce the fresh session's result by accident.
    val dir = SparkTestBase.tempDir("graft_regen_docs").toString
    val src = Tables.t(spark, sf, "documents")
    def regen(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      new java.io.File(s"$dir/documents.parquet").listFiles()
        .foreach(f => f.setLastModified(f.lastModified() + 2000))
    }
    val keys = Seq("text_bigram_coverage", "dedup_cluster_components", "dedup_corpus_filter")
    def rows(s: org.apache.spark.sql.SparkSession, k: String) =
      SparkEntry.queries(k)(s, dir).collect().map(_.toSeq).toSeq
    regen(src)
    keys.foreach(rows(spark, _))
    regen(src.withColumn("doc_id", col("doc_id") + 1000000L).withColumn("text", upper(col("text"))))
    val fresh = spark.newSession()
    val stale = keys.filter { k =>
      val want = rows(fresh, k)
      assert(want.nonEmpty, k)
      rows(spark, k) != want
    }
    assert(stale.isEmpty, s"stale memo served after in-place regeneration: $stale")
  }

  test("join_bucketed_colocated re-stages its bucketed tables when orders.parquet is regenerated in place") {
    // The catalog tables are staged under the lineitem + orders
    // fingerprint: a check for the tables' existence alone would keep
    // joining the first generation's tables after the rewrite below.
    val dir = SparkTestBase.tempDir("graft_restage_bkt").toString
    val suffix = Integer.toHexString(dir.hashCode)
    Tables.t(spark, sf, "lineitem").write.parquet(s"$dir/lineitem.parquet")
    val src = Tables.t(spark, sf, "orders")
    def regen(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      new java.io.File(s"$dir/orders.parquet").listFiles()
        .foreach(f => f.setLastModified(f.lastModified() + 2000))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double)] =
      df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def direct(): Seq[(String, Long, Double)] = rows(Tables.t(spark, dir, "lineitem")
      .join(Tables.t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("l_quantity")))).as("sum_qty"))
      .orderBy("o_orderpriority"))
    def viaKey(): Seq[(String, Long, Double)] =
      rows(SparkEntry.queries("join_bucketed_colocated")(spark, dir))
    try {
      regen(src)
      assert(viaKey() == direct())
      regen(src.where(col("o_orderkey") % 3 === 0))
      val fresh = direct()
      assert(fresh.nonEmpty)
      assert(viaKey() == fresh, "stale bucketed tables joined after in-place regeneration")
      // the catalog is shared by every session of the context: a second
      // session's staging must leave this session's reader intact
      assert(rows(SparkEntry.queries("join_bucketed_colocated")(spark.newSession(), dir)) == fresh)
      assert(viaKey() == fresh, "another session's staging broke this session's reader")
    } finally {
      Seq("lineitem", "orders").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_bkt_${t}_$suffix"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(Tables.stagingDir("graft_bkt_marker", dir)))
    }
  }

  test("Vectors: the Spark cosine column and the JVM kernel give the same doubles on sf0.01") {
    // the rule the embedding family and its oracles rest on: one fold
    // order, so both spellings of cosine are bit-identical on every
    // (query, candidate) pair
    import spark.implicits._
    val e = Tables.t(spark, SparkTestBase.sf01, "embeddings")
    val pairs = e.where(llm.Vectors.isQuery(col("vec_id")))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(e.select(col("vec_id").as("cid"), col("embedding").as("ce")))
      .where(col("qid") =!= col("cid"))
      .select(col("qe"), col("ce"), llm.Vectors.cos(col("qe"), col("ce")).as("cos"))
      .as[(Array[Float], Array[Float], Double)].collect()
    assert(pairs.length == llm.Vectors.NQueries * (e.count() - 1))
    val normed = (v: Array[Float]) => llm.Vectors.normed(v.map(_.toDouble))
    val differ = pairs.count { case (q, c, sparkCos) =>
      val jvmCos = llm.Vectors.rawCosine(normed(q), normed(c))
      java.lang.Double.doubleToLongBits(jvmCos) != java.lang.Double.doubleToLongBits(sparkCos)
    }
    assert(differ == 0, s"$differ of ${pairs.length} pairs differ between the Spark and JVM cosine")
  }

  test("embedding-family keys on an empty embeddings table: empty result or a named error") {
    // every key that reads embeddings alone (rank_rrf_fusion also ranks
    // documents, so it has a lexical answer on empty embeddings)
    val keys = Seq("dedup_embed_cosine", "sim_cosine_topk", "sim_join_threshold",
      "sim_join_lsh_threshold", "sim_mrl_rerank", "sim_ann_lsh", "embed_label_centroid",
      "embed_quantize_int8", "sim_topk_int8", "knn_label_vote", "sim_ann_ivf",
      "dedup_semdedup_cluster", "embed_pca_project")
    val dir = SparkTestBase.tempDir("graft_empty_embeddings").toString
    spark.read.parquet(s"${SparkTestBase.sf01}/embeddings.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the staging dirs of this dataset share the suffix of stagingDir("", dir)
    val staging = new java.io.File(Tables.stagingDir("", dir))
    try {
      val bad = keys.flatMap { k =>
        try {
          val n = SparkEntry.queries(k)(spark, dir).collect().length
          if (n == 0) Nil else Seq(s"$k: $n rows")
        } catch {
          case e: IllegalArgumentException
            if e.getMessage.contains(k) && e.getMessage.contains("embeddings") => Nil
          case e: Throwable => Seq(s"$k: $e")
        }
      }
      assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
    } finally {
      staging.getParentFile.listFiles().filter(_.getName.endsWith(staging.getName))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
  }
}
