package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Exec
import graft.ext.{Dedup, Multimodal, Sample, Similarity, Text}
import graft.functions._
import graft.streaming.Stream

/** North-star extension specs: dedup, similarity, text, multimodal,
  * streaming, exec. */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private def docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
  private def emb = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")

  test("exec: sql + named params + lowercase column fetch (reference database.py parity)") {
    val ex = new Exec(spark)
    spark.read.parquet(s"${TestSession.sf}/region.parquet").createOrReplaceTempView("region_v")
    ex.execute("SELECT r_regionkey AS RK FROM region_v WHERE r_regionkey > :k ORDER BY RK",
      Map("k" -> 2))
    assert(ex.columnNames() == Seq("rk"))
    assert(ex.toDict().map(_("rk")).toSeq == Seq(3, 4))
    assert(ex.toDataFrame(Some(1)).get.count() == 1)
  }

  test("exec: executeMany runs a parameterized statement per param set (reference many=True)") {
    val ex = new Exec(spark)
    graft.io.Load.dropManaged(spark, "graft_many_spec")
    ex.execute("CREATE TABLE graft_many_spec (k BIGINT, v STRING)")
    ex.executeMany("INSERT INTO graft_many_spec VALUES (:k, :v)",
      Seq(Map("k" -> 1L, "v" -> "a"), Map("k" -> 2L, "v" -> "b"), Map("k" -> 3L, "v" -> "c")))
    // positional (qmark) form
    ex.executeMany("INSERT INTO graft_many_spec VALUES (?, ?)",
      Seq(Seq(4L, "d"), Seq(5L, "e")))
    val rows = spark.table("graft_many_spec").orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // empty parameter sequence is a no-op (reference executemany parity):
    // nothing executes, the cursor keeps its previous result
    ex.executeMany("INSERT INTO graft_many_spec VALUES (:k, :v)",
      Seq.empty[Map[String, Any]])
    assert(spark.table("graft_many_spec").count() == 5)
    graft.io.Load.dropManaged(spark, "graft_many_spec")
  }

  test("exec: named and positional forms share one error taxonomy (single-wrapped ExecError)") {
    val ex = new Exec(spark)
    val e1 = intercept[graft.core.ExecError](ex.execute("SELECT * FROM graft_no_such_tbl"))
    assert(!e1.getCause.isInstanceOf[graft.core.GraftError], "named form must not double-wrap")
    val e2 = intercept[graft.core.ExecError](
      ex.execute("SELECT * FROM graft_no_such_tbl", Seq.empty[Any]))
    assert(!e2.getCause.isInstanceOf[graft.core.GraftError], "positional form must not double-wrap")
    // empty SQL: the timing log's line iterator must not supersede the
    // ExecError with a NoSuchElementException
    intercept[graft.core.ExecError](ex.execute(""))
    intercept[graft.core.ExecError](ex.execute("", Seq.empty[Any]))
  }

  test("as-of join attaches the latest right value at-or-before each left time") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"),
      (1L, "2024-01-01 12:00:00"),
      (1L, "2024-01-01 12:30:00"), // exactly at a state change: inclusive
      (2L, "2024-01-01 09:00:00")  // before any state: null
    ).toDF("k", "ts_s").withColumn("t", col("ts_s").cast("timestamp"))
    val st = Seq(
      (1L, "2024-01-01 09:30:00", "a"),
      (1L, "2024-01-01 11:00:00", "b"),
      (1L, "2024-01-01 12:30:00", "c"),
      (2L, "2024-01-01 10:00:00", "z"),
      (1L, null, "NEVER") // null right time: can never satisfy l.t >= r.t
    ).toDF("k2", "ts_s2", "v").withColumn("t2", col("ts_s2").cast("timestamp"))
    val got = graft.operators.AsOfJoin.asOf(ev, st, "k", "t", "k2", "t2", Seq("v"))
      .orderBy("k", "t").select("k", "v").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull))
    assert(got.toSeq == Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, null)))
  }

  test("salted join equals the plain equi-join row-for-row") {
    val li = spark.read.parquet(s"${TestSession.sf}/lineitem.parquet")
    val sup = spark.read.parquet(s"${TestSession.sf}/supplier.parquet")
    val plain = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .select("l_orderkey", "l_linenumber", "s_suppkey")
    val salted = graft.operators.SaltedJoin.saltedInner(li, sup,
        "l_suppkey", "s_suppkey", salts = 8,
        saltBy = struct(col("l_orderkey"), col("l_linenumber")))
      .select("l_orderkey", "l_linenumber", "s_suppkey")
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
    // same-named keys on both sides must not hit AMBIGUOUS_REFERENCE
    import spark.implicits._
    val a = Seq((1L, "x"), (1L, "y")).toDF("k", "lv")
    val b = Seq((1L, "r")).toDF("k", "rv")
    val j = graft.operators.SaltedJoin.saltedInner(a, b, "k", "k", 4, col("lv"))
    assert(j.count() == 2)
  }

  test("exact dedup keeps one row per distinct content") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same  TEXT "), (3L, "other")).toDF("doc_id", "text")
    // normalization: case+whitespace → 1 and 2 collapse
    val kept = Dedup.exactDedup(d).orderBy("doc_id").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))
    val groups = Dedup.exact(d).orderBy("doc_id").collect()
    assert(groups.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dupes"))).toSeq ==
      Seq((1L, 2L), (3L, 1L)))
  }

  test("connected components: chains collapse to the min id; survivors are component minima") {
    import spark.implicits._
    // chain 1-2-3-4 exercises pointer jumping (diameter > rounds of
    // plain propagation); {10,11} a flat pair; 20 a singleton doc
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
      .withColumn("text", lit("x"))
    val cc = Dedup.clusterIds(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    val kept = Dedup.nearDedupCorpus(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L))
    // empty pair set: everyone is their own cluster
    val none = Dedup.clusterIds(docs, pairs.limit(0)).collect()
    assert(none.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("minhash LSH + verify finds exactly the true shingle-jaccard pairs (planted near-dups)") {
    val exact = Dedup.shingleJaccardPairs(docs, 0.8, shingle = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupes(docs, 0.8, k = 64, bands = 16, shingle = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact) // verify stage makes precision exact; 16 bands → recall ~1
  }

  test("banded candidate path of shingleJaccardPairs matches the exact prefix-filter path") {
    // the dedup_ngram production configuration (lshK=64, lshBands=16):
    // full output parity — (id_a, id_b, jaccard) including the exact
    // jaccard values, not just the pair set — against the recall-1
    // prefix-filter path on the planted-near-dup fixture
    val exact = Dedup.shingleJaccardPairs(docs, 0.8, shingle = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.shingleJaccardPairs(docs, 0.8, shingle = 5,
        lshK = 64, lshBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(banded == exact)
  }

  test("simhash near-dupes are a subset of low-distance pairs and find planted dups") {
    val pairs = Dedup.simhashNearDupes(docs, maxHamming = 12,
      shingler = charShingles(_, 5)).collect()
    assert(pairs.forall(_.getInt(2) <= 12))
    assert(pairs.nonEmpty) // planted 0.93+ jaccard pairs land within hamming 12
  }

  test("simhash banding recall: finds EVERY pair within maxHamming (vs brute-force bit_count)") {
    // pigeonhole property check: banded candidate generation with
    // bands = maxHamming + 1 must recover exactly the pairs a full
    // O(n^2) bit_count(xor) join finds
    for (maxHamming <- Seq(3, 8, 12)) {
      val sigs = Dedup.simhashSignatures(docs, shingler = charShingles(_, 5))
      val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
        .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
        .select(col("a.id"), col("b.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = Dedup.simhashNearDupes(docs, maxHamming, shingler = charShingles(_, 5))
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"maxHamming=$maxHamming: banded recall must be exact")
    }
  }

  test("embedding near-dup pairs match brute-force threshold set") {
    val n = Dedup.embeddingNearDupes(emb, 0.45).count()
    assert(n > 0 && n < 100)
  }

  test("modularity: perfect two-cluster split scores high, random labels ~0") {
    import spark.implicits._
    // two disjoint triangles: perfect communities
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    val goodLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("id", "label")
    val good = graft.ext.Graph.modularity(edges, goodLabels).collect()(0)
    // Q = 2 * (3/6 - (6/12)^2) = 0.5
    assert(math.abs(good.getDouble(2) - 0.5) < 1e-9, good.toString)
    assert(good.getLong(0) == 2 && good.getLong(1) == 6)
    val oneBlob = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("id", "label")
    val blob = graft.ext.Graph.modularity(edges, oneBlob).collect()(0)
    assert(math.abs(blob.getDouble(2)) < 1e-9, "everything-in-one-community scores 0")
  }

  test("KS statistic matches a direct driver-side ECDF computation") {
    val row = SparkEntry.queries("stats_ks")(spark, TestSession.sf).collect()(0)
    val ev = spark.read.parquet(s"${TestSession.sf}/events.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = ev.filter(_._1 == "click").map(_._2).sorted
    val b = ev.filter(_._1 == "purchase").map(_._2).sorted
    val d = ev.map(_._2).distinct.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length -
        b.count(_ <= v).toDouble / b.length)
    }.max
    assert(math.abs(row.getDouble(2) - d) < 1e-12,
      s"D ${row.getDouble(2)} vs direct $d")
    assert(row.getLong(0) == a.length && row.getLong(1) == b.length)
  }

  test("bloom-accelerated incremental dedup is identical at any FP rate") {
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val plain = Dedup.exactIncrement(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 64 bits saturates the filter (≈100 % FP rate): every row rides
    // the verify join and the identity must still hold exactly
    for (bits <- Seq(64, 65536)) {
      val fast = Dedup.exactIncrementBloom(corpus, batch, bits = bits)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fast == plain, s"bits=$bits diff=${(fast -- plain) ++ (plain -- fast)}")
    }
  }

  test("multi-file streaming runs one micro-batch per file and matches batch") {
    val out = java.nio.file.Files.createTempDirectory("graft_multifile").toString
    val ev = Stream.normalizeTs(
      spark.read.parquet(s"${TestSession.sf}/events.parquet"))
    ev.repartition(4).write.mode("overwrite").parquet(out)
    val (table, batches) = Stream.runMultiFile(spark, out, "1 hour",
      queryName = "graft_multifile_spec")
    assert(batches >= 4, s"maxFilesPerTrigger=1 over 4 files must run >= 4 data batches, got $batches")
    val got = table.select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val want = Stream.windowedAgg(ev, "1 hour")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(got == want, "incremental multi-batch result must equal the batch aggregate")
  }

  test("mann-whitney U matches a direct driver-side rank computation") {
    val row = SparkEntry.queries("stats_mannwhitney")(spark, TestSession.sf).collect()(0)
    val ev = spark.read.parquet(s"${TestSession.sf}/events.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val rankOf = ev.map(_._2).sorted.zipWithIndex
      .groupBy(_._1).map { case (v, xs) =>
        v -> xs.map(_._2 + 1).sum.toDouble / xs.size
      }
    val a = ev.filter(_._1 == "click")
    val nA = a.length.toLong
    val nB = ev.length - nA
    val u = a.map(x => rankOf(x._2)).sum - nA * (nA + 1) / 2.0
    assert(row.getLong(0) == nA && row.getLong(1) == nB)
    assert(math.abs(row.getDouble(2) - u) < 1e-4, s"U ${row.getDouble(2)} vs $u")
    val ties = ev.groupBy(_._2).values.map(_.size.toLong)
      .map(t => t * t * t - t).sum
    val n = nA + nB
    val z = (u - nA.toDouble * nB / 2.0) /
      math.sqrt(nA.toDouble * nB / 12.0 * ((n + 1).toDouble - ties.toDouble / (n.toDouble * (n - 1))))
    assert(math.abs(row.getDouble(3) - z) < 1e-4, s"z ${row.getDouble(3)} vs $z")
  }

  test("ml_eval: perfect classifier scores 1.0 across the board") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "apple banana apple", "fruit"), (2L, "banana cherry", "fruit"),
      (3L, "bolt nut bolt washer", "tool"), (4L, "nut washer", "tool")
    ).toDF("doc_id", "text", "lang")
    val pred = Text.naiveBayes(tiny, "lang")
    // re-derive the scorecard arithmetic on a known-perfect prediction
    assert(pred.filter(col("lang") =!= col("predicted")).count() == 0)
    val rows = SparkEntry.queries("ml_eval")(spark, TestSession.sf).collect()
    assert(rows.length == 5, "one row per language")
    rows.foreach { r =>
      val (p, rec, f1) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(p >= 0 && p <= 1 && rec >= 0 && rec <= 1 && f1 >= 0 && f1 <= 1)
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)), "tp bounded")
    }
  }

  test("lengthBatches: bucketing beats one global batch on padding waste") {
    import spark.implicits._
    val d = docs.select(col("doc_id"),
      graft.functions.tokenCount(col("text")).cast("long").as("n"))
    val batched = graft.ext.Pack.lengthBatches(d, "n", "doc_id").collect()
    val nDocs = batched.map(_.getLong(2)).sum
    assert(nDocs == docs.count(), "every doc lands in exactly one batch")
    batched.foreach(r => assert(r.getLong(2) <= 8, "batchSize cap"))
    val waste = batched.map(_.getLong(4)).sum
    // baseline: one global batch pads everything to the corpus max
    val lens = d.select("n").collect().map(_.getLong(0))
    val globalWaste = lens.max * lens.length - lens.sum
    assert(waste < globalWaste / 4,
      s"bucketed waste $waste should be far under global-pad $globalWaste")
  }

  test("acf of a period-2 alternating series is -1 at odd lags") {
    import spark.implicits._
    val ys = (0 until 40).map(i => (1L, i.toLong, i.toLong, if (i % 2 == 0) 1.0 else -1.0))
    val df = ys.toDF("k", "ts", "tie", "v")
    val got = graft.ext.TimeSeries.acf(df, "k", "ts", "v", "tie", maxLag = 4)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    // mean 0; r_l = sum of 40-l products of +-1 over 40: |r_1| = 39/40
    assert(math.abs(got(1) - (-39.0 / 40)) < 1e-6, got.toString)
    assert(math.abs(got(2) - (38.0 / 40)) < 1e-6, got.toString)
    assert(math.abs(got(3) - (-37.0 / 40)) < 1e-6, got.toString)
  }

  test("jaccardLinks scores a hand-built graph exactly") {
    import spark.implicits._
    // path graph 1-2-3-4 + edge 2-5; degs: 1:1, 2:3, 3:2, 4:1, 5:1
    // (1,3): {2} -> 1/(1+2-1)=0.5; (1,5): {2} -> 1/(1+1-1)=1.0;
    // (3,5): {2} -> 1/(2+1-1)=0.5; (2,4): {3} -> 1/(3+1-1)=1/3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val got = graft.ext.Graph.jaccardLinks(edges, maxDeg = 64, topK = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size == 4, got.toString)
    assert(got((1L, 3L)) == 0.5 && got((1L, 5L)) == 1.0 && got((3L, 5L)) == 0.5,
      got.toString)
    assert(got((2L, 4L)) == round6(1.0 / 3), got.toString)
    assert(!got.contains((1L, 2L)), "adjacent pairs are excluded")
  }
  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Parquet files (path -> length) under segment `seg` of manifest
    * table `root` — the byte-identity probe of the copy-on-write
    * specs. */
  private def segFiles(root: String, seg: String): Map[String, Long] = {
    val dir = new org.apache.hadoop.fs.Path(root, seg)
    val it = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(dir, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        b += st.getPath.toString -> st.getLen }
    b.result()
  }

  test("er_golden: canonical is the cluster's most frequent name") {
    val rows = SparkEntry.queries("er_golden")(spark, TestSession.sf).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    assert(byCluster.exists(_._2.length > 1), "fixture moved: expected a multi-name cluster")
    byCluster.foreach { case (_, members) =>
      val canonical = members.head.getString(2)
      assert(members.forall(_.getString(2) == canonical), "one canonical per cluster")
      val best = members.map(r => (-r.getLong(3), r.getString(0))).min._2
      assert(canonical == best, s"canonical $canonical != argmax $best")
    }
  }

  test("phash banding equals the brute-force Hamming pair set") {
    val media = Multimodal.encodeGrayPng(
      docs.select(col("doc_id").as("media_id"), unhex(md5(col("text"))).as("pixels")))
    val hashes = Multimodal.perceptualHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, pa) <- hashes; (b, pb) <- hashes if a < b
      if java.lang.Long.bitCount(pa ^ pb) <= 1
    } yield (a, b)).toSet
    val banded = Multimodal.phashNearDupes(media, maxHamming = 1)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture moved: expected some phash near-dups")
    assert(banded == brute, s"missing=${brute -- banded} extra=${banded -- brute}")
  }

  test("hardNegatives excludes same-label vectors and ranks by cosine") {
    val q = emb.filter(col("vec_id") < 3)
    val res = Similarity.hardNegatives(emb, q, 5).collect()
    assert(res.length == 15)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    res.foreach { r =>
      assert(labels(r.getLong(2)) != labels(r.getLong(0)),
        s"negative ${r.getLong(2)} shares query ${r.getLong(0)}'s label")
    }
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.sliding(2).forall(p => p(0).getDouble(3) >= p(1).getDouble(3)))
    }
  }

  test("holt ladder equals the direct recursion over the window") {
    import spark.implicits._
    import graft.ext.TimeSeries
    val (alpha, beta, win) = (0.5, 0.3, 20)
    val ys = (1 to 30).map(i => math.sin(i * 0.7) * 10 + i * 0.5)
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toLong, i.toLong, y) }
      .toDF("k", "ts", "tie", "v")
    val got = TimeSeries.holt(df, "k", "ts", "v", "tie", alpha, beta, win)
      .orderBy("tie").collect()
    assert(got.length == ys.length - win + 1, "one row per full window")
    // direct recursion over each row's trailing `win` observations
    def direct(obs: Seq[Double]): (Double, Double) = {
      var l = obs.head; var b = obs(1) - obs.head
      for (t <- 1 until obs.length) {
        val lp = l
        l = alpha * obs(t) + (1 - alpha) * (lp + b)
        b = beta * (l - lp) + (1 - beta) * b
      }
      (l, b)
    }
    got.foreach { r =>
      val tie = r.getLong(2).toInt
      val (l, b) = direct(ys.slice(tie - win + 1, tie + 1))
      assert(math.abs(r.getDouble(4) - l) < 1e-6, s"level at $tie")
      assert(math.abs(r.getDouble(5) - b) < 1e-6, s"trend at $tie")
      assert(math.abs(r.getDouble(6) - (r.getDouble(4) + r.getDouble(5))) < 1e-6)
    }
  }

  test("bpeEncode applies trained merges greedily in rank order") {
    import spark.implicits._
    // corpus {aaab, aab}: merge1 = (a,a) [3 pairs], merge2 = (a,b)
    // [tie at 1, (l,r) order]; encode: aaab -> aa|ab, aab -> aa|b
    val tiny = Seq((1L, "aaab aab")).toDF("doc_id", "text")
    val merges = Text.bpeTrain(tiny, nMerges = 2).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("a", "a"), ("a", "b")), merges.toString)
    val enc = Text.bpeEncode(tiny, merges).collect()
    assert(enc.length == 1)
    assert(enc(0).getLong(1) == 2L, "n_words")
    assert(enc(0).getLong(2) == 4L, s"subwords aa|ab + aa|b = 4, got ${enc(0).getLong(2)}")
  }

  test("BPE invariants on the corpus: subword counts shrink monotonically, bounded below by words") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text").limit(100)
    val merges = graft.ext.Text.bpeTrain(docs, nMerges = 6).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 6)
    // each additional merge can only JOIN symbols: total subword count
    // is non-increasing in the merge prefix, and never drops below one
    // subword per word — the invariant no shared engine/oracle
    // misreading of the merge rule can fake
    var prev = Long.MaxValue
    for (k <- 1 to merges.size) {
      val enc = graft.ext.Text.bpeEncode(docs, merges.take(k))
        .agg(sum("n_subwords"), sum("n_words")).head()
      val (nSub, nWords) = (enc.getLong(0), enc.getLong(1))
      assert(nSub <= prev, s"merge $k grew subwords: $prev -> $nSub")
      assert(nSub >= nWords, s"merge $k went below one subword per word")
      prev = nSub
    }
  }

  test("quantile_approx: every sketch estimate re-ranks within tolerance") {
    val rows = SparkEntry.queries("quantile_approx")(spark, TestSession.sf).collect()
    assert(rows.length == 12, s"3 flags x 4 quantiles expected, got ${rows.length}")
    assert(rows.forall(_.getBoolean(3)),
      rows.filterNot(_.getBoolean(3)).mkString(","))
  }

  test("dsirLogWeights: target-domain docs score higher on average") {
    val w = Sample.dsirLogWeights(docs, col("lang") === "en")
    assert(w.count() == docs.count())
    val byTgt = w.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg("log_weight").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byTgt(true) > byTgt(false),
      s"en mean ${byTgt(true)} must exceed non-en mean ${byTgt(false)}")
  }

  test("naiveBayes: separable vocab classifies perfectly; fixture fully covered") {
    import spark.implicits._
    // two classes with disjoint vocabularies — NB must recover them
    val tiny = Seq(
      (1L, "apple banana apple", "fruit"), (2L, "banana cherry", "fruit"),
      (3L, "bolt nut bolt washer", "tool"), (4L, "nut washer", "tool"),
      (5L, "apple cherry banana", "fruit"), (6L, "bolt washer nut", "tool")
    ).toDF("doc_id", "text", "lab")
    val pred = Text.naiveBayes(tiny, "lab").collect()
    assert(pred.length == 6)
    assert(pred.forall(r => r.getString(1) == r.getString(2)),
      pred.map(r => (r.getLong(0), r.getString(1), r.getString(2))).mkString(","))
    // fixture: every doc gets exactly one finite-scored verdict
    val full = Text.naiveBayes(docs, "lang")
    assert(full.count() == docs.count())
    assert(full.filter(col("score").isNull || col("score").isNaN).count() == 0)
  }

  test("semanticDedup: removals are exactly the within-cell lower-id near-dups") {
    val t = 0.42
    val res = Dedup.semanticDedup(emb, ncells = 16, threshold = t).collect()
    assert(res.length == emb.count(), "every vector gets a verdict")
    val removed = res.filter(!_.getBoolean(2))
    assert(removed.nonEmpty, "fixture moved: threshold 0.42 should remove rows")
    // independent check: a row is removed iff SOME same-cell lower id
    // sits at cosine >= t (computed via the exact pairwise pass
    // restricted to same-cell pairs), and dup_of is the LOWEST such id
    val cells = Similarity.assignCellsVec(emb, Similarity.firstNCentroids(emb, 16))
    val cellOf = cells.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sameCellPairs = Dedup.embeddingNearDupes(emb, t).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cellOf(a) == cellOf(b) }
    val expectDupOf = sameCellPairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val gotDupOf = removed.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gotDupOf == expectDupOf,
      s"missing=${expectDupOf.keySet -- gotDupOf.keySet} extra=${gotDupOf.keySet -- expectDupOf.keySet}")
  }

  test("srp-lsh scale path equals the exact pair set (recall + precision)") {
    // precision 1 is structural (exact verify); recall is
    // fixture-empirical — tuned so every qualifying pair collides in
    // several of the 48 bands (deterministic hash-mix hyperplanes).
    // threshold 0.465 puts 4 qualifying pairs on this fixture with a
    // 0.012 cosine margin to the below-threshold mass (the sf0.01
    // oracle gate runs the same pipeline at 0.5)
    val exact = Dedup.embeddingNearDupes(emb, 0.465)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupes(emb, 0.465, nbits = 192, bandBits = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 4, s"fixture moved: expected 4 exact pairs, got ${exact.size}")
    assert(lsh == exact, s"missing=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("brute-force top-k: correct k, rank ordering, no self matches") {
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5).collect()
    assert(res.length == 15)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      assert(sorted.sliding(2).forall(p => p(0).getDouble(3) >= p(1).getDouble(3)))
      assert(rows.forall(_.getLong(2) != q))
    }
  }

  test("ivf ANN reaches decent recall vs brute force") {
    val k = 10
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k, ncells = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("kmeans quantizer: deterministic, and Lloyd iterations do not worsen the objective") {
    val seed = Similarity.firstNCentroids(emb, 8)
    val trained = Similarity.kmeansCentroids(emb, 8, iters = 3)
    assert(trained == Similarity.kmeansCentroids(emb, 8, iters = 3), "training must be reproducible")
    def objective(cents: Seq[(Long, Seq[Double])]): Double =
      Similarity.assignCells(emb, cents).agg(avg("cosine")).head().getDouble(0)
    val (o0, o3) = (objective(seed), objective(trained))
    assert(o3 >= o0 - 1e-9, s"spherical objective worsened: $o0 -> $o3")
    // trained quantizer slots straight into IVF; exhaustive probe stays exact
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfTrained = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3), 5,
        ncells = 8, nprobe = 8, centroids = Some(trained))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivfTrained == brute, "exhaustive probe must stay exact under a trained quantizer")
  }

  test("lsh knn self-join recalls the brute-force neighbor graph") {
    val k = 5
    val brute = Similarity.bruteForceTopK(emb, emb, k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.knnJoinLsh(emb, k, nbits = 192, bandBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"knn recall $recall too low (bandBits=2 should be near-exhaustive)")
  }

  test("centroids: element-wise group means, dims reassembled in order") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(3.0f, 4.0f, 5.0f)), // grp 0 with row 1
      (1L, Seq(10.0f, 20.0f, 30.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.centroids(e, pmod(col("vec_id"), lit(2)))
      .orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(got.toSeq == Seq(
      (0L, Seq(2.0, 3.0, 4.0)),
      (1L, Seq(10.0, 20.0, 30.0))))
  }

  test("langid: stopword-scored prediction works on clear examples") {
    import spark.implicits._
    val d = Seq(
      ("the cat is in the hat and it was good", "en"),
      ("el perro es un animal y la casa es grande", "es"),
      ("der hund ist ein tier und die katze", "de"),
      ("le chien est un animal et les chats", "fr")
    ).toDF("text", "expected")
    val got = d.select(col("expected"), Text.langId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    // no stopword hits → und
    val und = spark.sql("SELECT 'zzz qqq xyz' AS text")
      .select(Text.langId(col("text"))).head().getString(0)
    assert(und == "und")
  }

  test("quality features + token counting are sane on documents") {
    val r = Text.analyze(docs).orderBy("doc_id").limit(5).collect()
    r.foreach { row =>
      assert(row.getAs[Long]("n_words") > 0)
      assert(row.getAs[Double]("punct_ratio") >= 0 && row.getAs[Double]("punct_ratio") <= 1)
      assert(row.getAs[Int]("n_tokens").toLong == row.getAs[Long]("n_words"))
      assert(row.getAs[String]("fingerprint").length == 32)
    }
    // re-analyzing an analyzed frame must REPLACE lang_pred (one column,
    // no AMBIGUOUS_REFERENCE), matching the old withColumn semantics
    val re = Text.analyze(Text.analyze(docs.limit(5)))
    assert(re.columns.count(_ == "lang_pred") == 1)
    assert(re.select("lang_pred").collect().nonEmpty)
  }

  test("redact masks PII; profile counts nulls; incremental dedup keeps first-unseen only") {
    import spark.implicits._
    val d = Seq("reach me at a.b@x-mail.co or +1 (212) 555-0199 ok").toDF("text")
    val red = d.select(Text.redact(col("text"))).head().getString(0)
    assert(red == "reach me at <EMAIL> or <PHONE> ok", red)
    val p = Seq((Option(1.0), 1L), (None, 2L), (Option(3.0), 3L)).toDF("x", "y")
    val prof = graft.ext.Profile.describe(p, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof("x").getAs[Long]("n") == 2 && prof("x").getAs[Long]("n_nulls") == 1)
    assert(prof("y").getAs[Double]("min") == 1.0 && prof("y").getAs[Double]("max") == 3.0)
    // batch row 1 duplicates corpus content (normalization collapses
    // case), row 5 duplicates row 3 within the batch → only 3 survives
    val corpus = Seq((0L, "shared text"), (2L, "corpus only")).toDF("doc_id", "text")
    val batch = Seq((1L, "shared TEXT"), (3L, "fresh"), (5L, "fresh")).toDF("doc_id", "text")
    val kept = Dedup.exactIncrement(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
  }

  test("subword count approximates token count for plain text") {
    import spark.implicits._
    val d = Seq("hello world, it's 42 degrees").toDF("text")
    val n = d.select(subwordCount(col("text"))).head().getInt(0)
    assert(n >= 6) // words + punctuation + digit split
  }

  test("multimodal: stub decode is deterministic and shaped; frame sampling strides") {
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.decodeImages(media).orderBy("media_id").limit(3).collect()
    feats.foreach { r =>
      assert(r.getInt(1) >= 64 && r.getInt(2) >= 64 && r.getInt(3) == 3)
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
    }
    val frames = Multimodal.sampleFrames(media, everyK = 10)
    assert(frames.count() == media.count()) // short payloads → 1 frame each
    val meta = Multimodal.withMetadata(media).limit(1).collect()(0)
    assert(meta.getAs[Long]("n_bytes") > 0)
  }

  test("real PNG encode→decode roundtrip preserves gray samples exactly (lossless)") {
    import spark.implicits._
    val px = Seq(
      (1L, Array.range(0, 16).map(_.toByte)),
      (2L, Array.fill(16)(200.toByte)) // >127: exercises unsigned handling
    ).toDF("media_id", "pixels")
    val feats = Multimodal.decodeImagesReal(Multimodal.encodeGrayPng(px))
      .orderBy("media_id").collect()
    assert(feats.forall(r => r.getInt(1) == 4 && r.getInt(2) == 4 && r.getInt(3) == 1))
    assert(math.abs(feats(0).getDouble(4) - (0 until 16).sum / 16.0 / 255.0) < 1e-12)
    assert(math.abs(feats(1).getDouble(4) - 200.0 / 255.0) < 1e-12)
  }

  test("streaming windowed agg equals its batch twin") {
    val batch = Stream.windowedAgg(
      Stream.normalizeTs(spark.read.parquet(s"${TestSession.sf}/events.parquet")))
      .select("window_start", "event_type", "n_events", "sum_value")
      .orderBy("window_start", "event_type").collect()
    val streamed = Stream.runOnce(spark, s"${TestSession.sf}/events.parquet",
        queryName = "t_stream_spec")
      .select("window_start", "event_type", "n_events", "sum_value")
      .orderBy("window_start", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("session windows split a user's events on inactivity gaps") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:10:00", 2.0), // same session (10 min gap)
      (1L, "2024-01-01 02:00:00", 3.0), // new session (>30 min gap)
      (2L, "2024-01-01 00:05:00", 4.0)
    ).toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val sess = Stream.sessionWindows(ev, "30 minutes")
      .orderBy("user_id", "session_start").collect()
    assert(sess.length == 3)
    assert(sess(0).getAs[Long]("n_events") == 2 && sess(0).getAs[Double]("sum_value") == 3.0)
    assert(sess(1).getAs[Long]("n_events") == 1)
    assert(sess(2).getAs[Long]("user_id") == 2L)
  }

  test("stateful sessionizer (flatMapGroupsWithState) closes sessions on gap") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:10:00", 2.0),
      (1L, "2024-01-01 02:00:00", 3.0) // closes the first session
    ).toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    // batch mode: only sessions closed by a later event are emitted
    val closed = Stream.statefulSessionize(ev).collect()
    assert(closed.length == 1)
    assert(closed(0).userId == 1L && closed(0).nEvents == 2L && closed(0).sumValue == 3.0)
  }

  test("streaming dedup drops duplicate keys within watermark") {
    // batch DataFrames accept dropDuplicates the same way; here just the
    // plan shape: it must be streaming-valid
    val ev = Stream.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"${TestSession.sf}/events.parquet").schema)
      .parquet(s"${TestSession.sf}/events.parquet"))
    val dd = Stream.streamingDedup(ev, Seq("user_id"))
    assert(dd.isStreaming)
  }

  test("stratified sample is deterministic, partition-invariant and incrementally stable") {
    import graft.ext.Sample
    val rates = Map("en" -> 0.5, "fr" -> 0.3)
    val full = Sample.stratified(docs, "lang", rates, "doc_id", defaultRate = 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // partition layout must not change a single decision
    val reparted = Sample.stratified(docs.repartition(13), "lang", rates, "doc_id",
        defaultRate = 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(full == reparted)
    // incremental stability: sampling a grown corpus keeps prior picks —
    // equivalently, sample(subset) == sample(full) ∩ subset
    val half = docs.filter(col("doc_id") < 250)
    val halfSample = Sample.stratified(half, "lang", rates, "doc_id", defaultRate = 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(halfSample == full.filter(_ < 250))
    // rates actually differentiate: en keeps more than zh (0.5 vs 0.1)
    val byLang = docs.join(
        Sample.stratified(docs, "lang", rates, "doc_id", defaultRate = 0.1)
          .select(col("doc_id").as("kept_id")),
        col("doc_id") === col("kept_id"), "left")
      .groupBy("lang")
      .agg(count("kept_id").as("kept"), count(lit(1)).as("total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byLang("en")._1.toDouble / byLang("en")._2 > byLang("zh")._1.toDouble / byLang("zh")._2)
  }

  test("capPerKey keeps at most k rows per key, deterministically") {
    import graft.ext.Sample
    val capped = Sample.capPerKey(docs, "source", 10, "doc_id")
    val perKey = capped.groupBy("source").count().collect()
    assert(perKey.forall(_.getLong(1) <= 10))
    val again = Sample.capPerKey(docs.repartition(7), "source", 10, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == capped.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("packShards equals the single-window prefix sum") {
    import graft.ext.Pack
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col("doc_id"), tokenCount(col("text")).cast("long").as("w"))
    val naive = w.withColumn("pre",
        coalesce(sum("w").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), floor(col("pre") / 2000.0).cast("long").as("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packed = Pack.packShards(w, "doc_id", "w", budget = 2000L)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed == naive, "packShards diverges from the naive prefix sum")
    // no shard exceeds budget + one document's weight (greedy overflow rule)
    val maxDocW = w.agg(max("w")).head().getLong(0)
    val shardTotals = Pack.packShards(w, "doc_id", "w", 2000L)
      .groupBy("shard_id").agg(sum("w").as("tot")).collect()
    assert(shardTotals.forall(_.getLong(1) <= 2000L + maxDocW))
  }

  test("packShards edge cases: over-budget docs, exact-fit boundaries, zero weights") {
    import graft.ext.Pack
    import spark.implicits._
    // doc 1 (w=5) fills shard 0 exactly at budget 5; doc 2 (w=12)
    // exceeds the whole budget alone; doc 3 (w=0) must not open a new
    // shard; doc 4 lands after the giant
    val w = Seq((1L, 5L), (2L, 12L), (3L, 0L), (4L, 2L)).toDF("doc_id", "w")
    val got = Pack.packShards(w, "doc_id", "w", budget = 5L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // exclusive prefix: 0, 5, 17, 17 → shards 0, 1, 3, 3 — a shard
    // index SKIPS when one doc spans multiple budgets (2 fills 5..16)
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 3L), (4L, 3L)), got.toString)
    // single row packs to shard 0 whatever its weight
    val one = Pack.packShards(Seq((9L, 1000L)).toDF("doc_id", "w"),
      "doc_id", "w", budget = 5L).collect()
    assert(one.length == 1 && one(0).getLong(2) == 0L)
  }

  test("packShards keeps a null doc_id row and packs it first") {
    import graft.ext.Pack
    import spark.implicits._
    val w = Seq((None, 3L), (Some(1L), 2L), (Some(2L), 4L)).toDF("doc_id", "w")
    val got = Pack.packShards(w, "doc_id", "w", budget = 5L).collect()
      .map(r => (Option(r.getAs[java.lang.Long](0)).map(_.longValue), r.getLong(2))).toSeq
    // exclusive prefix with the null first: 0, 3, 5 → shards 0, 0, 1
    assert(got.sortBy(_._1) == Seq((None, 0L), (Some(1L), 0L), (Some(2L), 1L)), got.toString)
  }

  test("packSequences lays out the concat-and-chunk stream exactly") {
    import graft.ext.Pack
    import spark.implicits._
    // doc 1: 3 ids, doc 2: 1 id, doc 3: 5 ids; +EOS each → stream of 12
    val ids = Seq(
      (1L, Seq(10, 11, 12)), (2L, Seq(20)), (3L, Seq(30, 31, 32, 33, 34)))
      .toDF("doc_id", "token_ids")
    val out = Pack.packSequences(ids, seqLen = 4, eosId = -1)
      .orderBy("seq_idx")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getLong(2)))
    // stream: 10 11 12 -1 | 20 -1 30 31 | 32 33 34 -1
    assert(out.toList == List(
      (0L, List(10, 11, 12, -1), 4L),
      (1L, List(20, -1, 30, 31), 4L),
      (2L, List(32, 33, 34, -1), 4L)))
    // ragged tail: seqLen 5 leaves a final 2-token sequence
    val ragged = Pack.packSequences(ids, seqLen = 5, eosId = -1)
      .orderBy("seq_idx").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getLong(2)))
    assert(ragged.last == ((2L, List(34, -1), 2L)))
  }

  test("temperatureWeights sums to 1 and α=1 reproduces natural proportions") {
    import graft.ext.Sample
    val w = Sample.temperatureWeights(docs, "source", "n_chars", alpha = 0.7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(math.abs(w.map(_._3).sum - 1.0) < 1e-4)
    assert(w.forall(_._3 > 0))
    val natural = Sample.temperatureWeights(docs, "source", "n_chars", alpha = 1.0)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(natural.forall { case (_, boost) => math.abs(boost - 1.0) < 1e-5 })
    // α < 1 boosts the smallest domain at least as much as the largest
    val bySize = w.sortBy(_._2)
    assert(bySize.head._4 >= bySize.last._4)
  }

  test("slidingAgg lands every event in window/slide overlapping buckets") {
    val ev = Stream.normalizeTs(
      spark.read.parquet(s"${TestSession.sf}/events.parquet"))
    val n = ev.count()
    val agg = Stream.slidingAgg(ev, "2 hours", "1 hour")
    assert(agg.agg(sum("n_events")).head().getLong(0) == 2 * n)
    // bucket starts align to the hourly slide grid
    val starts = agg.select(col("window_start").cast("long")).collect().map(_.getLong(0))
    assert(starts.forall(_ % 3600 == 0))
  }

  test("assignSplits is growth-stable and honors the fractions") {
    import graft.ext.Sample
    val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val full = Sample.assignSplits(docs, fr, "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // a row's split never changes when the corpus shrinks/grows
    val subset = Sample.assignSplits(docs.filter(col("doc_id") < 100), fr, "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(subset.forall { case (id, s) => full(id) == s })
    // fractions hold within sampling noise on 500 docs
    val n = full.size.toDouble
    val trainFrac = full.values.count(_ == "train") / n
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train frac $trainFrac")
    assert(full.values.toSet == Set("train", "val", "test"))
  }

  test("tableChecksum is order/partition-invariant and detects a changed row") {
    import graft.ext.Profile
    val cols = Seq("doc_id", "source", "lang")
    def digest(df: org.apache.spark.sql.DataFrame) =
      Profile.tableChecksum(df, cols).head()
    val base = digest(docs)
    assert(digest(docs.repartition(11).orderBy(col("n_chars").desc)) == base)
    // one mutated row must flip the xor digest
    val tampered = docs.withColumn("lang",
      when(col("doc_id") === 7, lit("xx")).otherwise(col("lang")))
    assert(digest(tampered) != base)
  }

  test("row hashes distinguish NULL placement (no concat_ws null collapse)") {
    import spark.implicits._
    import graft.ext.Profile
    // (a, NULL) vs (NULL, a) and ('x', NULL, 'y') vs ('x', 'y', NULL)
    // collide under bare concat_ws (it SKIPS null elements); the
    // sentinel rendering must keep them distinct in both contracts
    val ab = Seq((1L, Some("a"), None: Option[String]))
      .toDF("k", "c1", "c2")
    val ba = Seq((1L, None: Option[String], Some("a")))
      .toDF("k", "c1", "c2")
    assert(Profile.tableChecksum(ab, Seq("c1", "c2")).head() !=
      Profile.tableChecksum(ba, Seq("c1", "c2")).head(),
      "null-position swap must change the checksum")
    val d1 = Profile.diffByKey(ab, ba, Seq("k"), Seq("c1", "c2")).collect()
    assert(d1.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "changed")),
      d1.mkString(","))
    val xy1 = Seq((1L, Some("x"), None: Option[String], Some("y")))
      .toDF("k", "c1", "c2", "c3")
    val xy2 = Seq((1L, Some("x"), Some("y"), None: Option[String]))
      .toDF("k", "c1", "c2", "c3")
    val d2 = Profile.diffByKey(xy1, xy2, Seq("k"), Seq("c1", "c2", "c3")).collect()
    assert(d2.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "changed")),
      d2.mkString(","))
    // and a genuinely identical row (incl. a null) still reads unchanged
    assert(Profile.diffByKey(xy1, xy1, Seq("k"), Seq("c1", "c2", "c3")).count() == 0)
  }

  test("weightedSample is partition-invariant and weight-proportional") {
    import graft.ext.Sample
    val s1 = Sample.weightedSample(docs, 50, "n_chars", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sample.weightedSample(docs.repartition(7), 50, "n_chars", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "sample must not depend on physical partitioning")
    // PPS draw: the sample's mean weight must exceed the corpus mean
    val meanAll = docs.agg(avg("n_chars")).head().getDouble(0)
    val meanS = docs.filter(col("doc_id").isin(s1.toSeq: _*))
      .agg(avg("n_chars")).head().getDouble(0)
    assert(meanS > meanAll, s"sample mean $meanS should exceed corpus mean $meanAll")
  }

  test("minhashIncrementPairs equals the batch×corpus slice of corpus-wide near-dups") {
    val all = Dedup.minhashNearDupes(docs, 0.8, k = 64, bands = 16, shingle = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = all.collect { case (a, b) if (a % 2 == 0) != (b % 2 == 0) =>
      if (a % 2 == 1) (a, b) else (b, a)
    }
    val incr = Dedup.minhashIncrementPairs(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == cross, s"incr=$incr cross=$cross")
  }

  test("containmentPairs finds an embedded document that Jaccard misses") {
    import spark.implicits._
    val small = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, small),
      // doc 1 fully embedded in doc 2 — containment ≈ 1, Jaccard low
      (2L, small + " and then a very long unrelated continuation follows " +
        "with many additional words that dilute the symmetric measure " +
        "far below any sensible jaccard threshold for near duplicates " +
        "while the embedded copy remains verbatim inside this document"),
      (3L, "completely different text with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, 0.9, shingle = 5, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cont.toSet == Set((1L, 2L)))
    val jac = Dedup.shingleJaccardPairs(corpus, 0.9, shingle = 5)
      .collect()
    assert(jac.isEmpty, "Jaccard at 0.9 should miss the embedded pair")
  }

  test("survivorsBy keeps the highest-scored cluster member, not the min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short", 5L), (2L, "much longer text", 16L), (3L, "mid length", 10L),
      (4L, "solo", 4L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.survivorsBy(docs, pairs, "n_chars")
      .select("cluster_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // cluster {1,2,3}: doc 2 wins on score (min-id rule would keep 1)
    assert(out == Map(1L -> 2L, 4L -> 4L), out.toString)
  }

  test("decontaminate drops exactly the n-gram-overlapping documents") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),      // contains eval 3-gram "beta gamma delta"
      (2L, "epsilon zeta eta theta"),      // clean
      (3L, "beta gamma something else")    // shares only a 2-gram — stays at n=3
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "zzz beta gamma delta yyy")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, evalSet, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("Text.clean strips controls, collapses whitespace, and is idempotent") {
    import spark.implicits._
    val df = Seq("\tleading  and\u0001trailing\u007F  junk ").toDF("text")
    val once = df.select(Text.clean(col("text")).as("c")).head().getString(0)
    assert(once == "leading and trailing junk")
    val twice = df.select(Text.clean(Text.clean(col("text"))).as("c")).head().getString(0)
    assert(twice == once)
  }

  test("balancedTo hits the exact target mixture and drops unlisted strata") {
    import graft.ext.Sample
    val shares = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
    val out = Sample.balancedTo(docs, "lang", shares, "doc_id")
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == shares.keySet) // es/zh dropped
    // recompute the quota formula independently
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = shares.map { case (l, s) => counts(l).toDouble / s }.min
    shares.foreach { case (l, s) =>
      assert(got(l) == math.floor(s * t).toLong, s"lang $l: got ${got(l)}")
    }
    // deterministic under repartitioning
    val again = Sample.balancedTo(docs.repartition(11), "lang", shares, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("balancedTo with a share stratum absent from the data returns empty") {
    import graft.ext.Sample
    // 'xx' never occurs in the fixture: the exact-mixture contract is
    // infeasible, so T=0 and the only exact answer is the empty sample.
    val shares = Map("en" -> 0.5, "xx" -> 0.5)
    assert(Sample.balancedTo(docs, "lang", shares, "doc_id").count() == 0L)
  }

  test("balancedTo rejects inputs that already carry its working columns") {
    import graft.ext.Sample
    val clash = docs.withColumn("__k", lit(1))
    val e = intercept[IllegalArgumentException] {
      Sample.balancedTo(clash, "lang", Map("en" -> 1.0), "doc_id")
    }
    assert(e.getMessage.contains("__k"))
  }

  test("quantize8 codes are bounded; dequantize8 reconstructs within one step") {
    val q = emb.select(col("vec_id"), col("embedding"),
      quantize8(col("embedding")).as("q"))
    val checked = q.select(
        min(array_min(col("q"))).as("lo"), max(array_max(col("q"))).as("hi"),
        max(aggregate(
          zip_with(col("embedding"),
            dequantize8(col("q"), array_min(col("embedding")), array_max(col("embedding"))),
            (x, r) => abs(x.cast("double") - r)),
          lit(0.0), (acc, d) => greatest(acc, d))
          / ((array_max(col("embedding")) - array_min(col("embedding"))).cast("double") / 255.0)
        ).as("max_err_steps"))
      .head()
    assert(checked.getAs[Number]("lo").intValue >= 0)
    assert(checked.getAs[Number]("hi").intValue <= 255)
    // floor-truncation error is strictly below one quantization step
    assert(checked.getDouble(2) <= 1.0 + 1e-9, s"err ${checked.getDouble(2)}")
  }

  /** The sf0.001 embeddings plus the hand-built edge vectors, as float
    * and as double arrays (the kernels read each element type). */
  private def edgeVectors: Seq[org.apache.spark.sql.DataFrame] = {
    val hand = spark.sql(
      """SELECT embedding FROM VALUES
        |  (array(5.0F, CAST(NULL AS FLOAT), 5.0F)),
        |  (array(float('NaN'), float('NaN'))),
        |  (array(2.5F, 2.5F, 2.5F)),
        |  (array(1.0F, float('NaN'), CAST(NULL AS FLOAT), 3.0F)),
        |  (CAST(array() AS array<float>)),
        |  (CAST(array(NULL, NULL) AS array<float>)),
        |  (CAST(NULL AS array<float>))
        |  AS t(embedding)""".stripMargin)
    val floats = emb.select(col("embedding")).unionByName(hand)
    Seq(floats, floats.select(col("embedding").cast("array<double>").as("embedding")))
  }

  /** Rows where the fused kernel and the higher-order expression it
    * replaced differ (`<=>`: arrays compared element-wise, nulls and
    * NaNs included). */
  private def mismatches(df: org.apache.spark.sql.DataFrame,
      old: org.apache.spark.sql.Column, fused: org.apache.spark.sql.Column): Seq[String] =
    df.select(col("embedding").cast("string").as("v"), old.as("o"), fused.as("f"))
      .filter(not(col("o") <=> col("f")))
      .collect().map(r => s"${r.get(0)}: old ${r.get(1)} fused ${r.get(2)}").toSeq

  test("normalize: fused kernel is bit-identical to the higher-order form on embeddings and edge vectors") {
    val v = col("embedding")
    val n = sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val old = transform(v, x => x.cast("double") / n)
    edgeVectors.foreach { df =>
      val bad = mismatches(df, old, normalize(v))
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("quantize8: fused kernel is bit-identical to the higher-order form on embeddings and edge vectors") {
    val v = col("embedding")
    val mn = array_min(v).cast("double")
    val mx = array_max(v).cast("double")
    val old = transform(v, x => when(mx === mn, lit(0))
      .otherwise(floor((x.cast("double") - mn) * 255.0 / (mx - mn)).cast("int")))
    edgeVectors.foreach { df =>
      val bad = mismatches(df, old, quantize8(v))
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("qualityFilter applies word-count and stopword-density rules exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat with a hat that was flat"), // 12 words, 4 stopwords — keep
      (2L, "too short"),                                       // below minWords
      (3L, "cats dogs birds fish mice rats cows pigs owls bats foxes wolves") // 12 words, 0 stopwords
    ).toDF("doc_id", "text")
    val kept = Text.qualityFilter(df, minWords = 10, maxWords = 100, minStopRatio = 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("chunk covers every token with the declared overlap; short docs yield one chunk") {
    import spark.implicits._
    val df = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2L, "a b")).toDF("doc_id", "text")
    val chunks = Text.chunk(df, chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // step 3: starts 1,4,7 → [t1..t4], [t4..t7], [t7..t10]
    assert(d1.toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // declared overlap: each chunk's first token is the previous one's last
    d1.sliding(2).foreach { case Array(prev, next) =>
      assert(prev.split(" ").last == next.split(" ").head)
    }
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b"))
  }

  test("segmentDedup keeps first occurrence per segment and reassembles in order") {
    import spark.implicits._
    // doc 1: two distinct 2-token segments; doc 2: exact copy of doc 1
    // (every segment already seen → doc 2 vanishes); doc 3: repeats
    // doc 1's FIRST segment then adds a fresh one (partial survival,
    // and reassembly must keep the surviving segment's position order).
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "a b e f")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, segTokens = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 2L, "a b c d"), (3L, 1L, "e f")))
    // idempotence: a deduped corpus has no repeated segments left
    val again = Dedup.segmentDedup(
      Seq((1L, "a b c d"), (3L, "e f")).toDF("doc_id", "text"), segTokens = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(again.toSeq == Seq((1L, "a b c d"), (3L, "e f")))
  }

  test("resampleLocf fills every grid bucket and carries the last observation forward") {
    import spark.implicits._
    import graft.ext.TimeSeries
    // key 1: obs at 00:00 (v=1) and 03:00 (v=7) → grid 00,01,02,03 with
    // 01/02 carrying 1.0; key 2: single obs → single grid row
    val df = Seq(
      (1L, "2024-01-01 00:10:00", 1.0),
      (1L, "2024-01-01 03:20:00", 7.0),
      (2L, "2024-01-02 05:00:00", 4.0)
    ).toDF("k", "tss", "value").withColumn("ts", col("tss").cast("timestamp"))
    val out = TimeSeries.resampleLocf(df, "k", "ts", sum(col("value")), 3600L)
      .orderBy("k", "bucket_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 1.0, true),
      (1L, "2024-01-01 01:00:00.0", 1.0, false),
      (1L, "2024-01-01 02:00:00.0", 1.0, false),
      (1L, "2024-01-01 03:00:00.0", 7.0, true),
      (2L, "2024-01-02 05:00:00.0", 4.0, true)))
  }

  test("buildVocab ranks deterministically and tokensToIds maps OOV to 0 in position order") {
    import spark.implicits._
    val df = Seq((1L, "b a b c a b"), (2L, "z b")).toDF("doc_id", "text")
    val vocab = Text.buildVocab(df, v = 2)
    // freq: b=4, a=2, c=1, z=1 → vocab b→1, a→2 (c/z cut)
    assert(vocab.orderBy("id").collect().map(r => (r.getString(0), r.getInt(2))).toSeq ==
      Seq(("b", 1), ("a", 2)))
    val ids = Text.tokensToIds(df, vocab).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getLong(2)))
    assert(ids.toSeq == Seq(
      (1L, List(1, 2, 1, 0, 2, 1), 1L),
      (2L, List(0, 1), 1L)))
  }

  test("pointInInterval equals the naive inequality join across bin widths") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // negatives, bin boundaries, multi-bin spans, empty + null intervals
    val points = Seq(-8L, -7L, -1L, 0L, 1L, 6L, 7L, 13L, 14L, 100L)
      .toDF("p").withColumn("pid", monotonically_increasing_id())
    val intervals = Seq(
      (1L, Some(-10L), Some(0L)),   // negative range, end exclusive at 0
      (2L, Some(0L), Some(7L)),     // exactly one bin at w=7
      (3L, Some(5L), Some(15L)),    // spans three bins at w=7
      (4L, Some(7L), Some(7L)),     // empty: matches nothing
      (5L, Some(9L), Some(3L)),     // inverted: matches nothing
      (6L, None, Some(4L)),         // null start: dropped
      (7L, Some(99L), Some(101L))
    ).toDF("iid", "s", "e")
    val naive = points.join(intervals,
        col("p") >= col("s") && col("p") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(1L, 3L, 7L, 50L)) {
      val binned = RangeJoin.pointInInterval(points, "p", intervals, "s", "e", w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(binned == naive, s"binWidth=$w")
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, "p", intervals, "s", "e", 0L)
    }
  }

  test("bloomInner equals the plain inner join") {
    import graft.operators.BloomJoin
    val orders = spark.read.parquet(s"${TestSession.sf}/orders.parquet")
    val cust = spark.read.parquet(s"${TestSession.sf}/customer.parquet")
      .filter(col("c_acctbal") > 9000).select("c_custkey")
    val bloomed = BloomJoin.bloomInner(orders, cust, "o_custkey", "c_custkey",
        expectedItems = 1000L, numBits = 65536L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val plain = orders.join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(bloomed == plain)
  }

  test("pageRank matches the hand recurrence on a star and is stationary on a cycle") {
    import spark.implicits._
    import graft.ext.Graph
    // 2-cycle: rank 1.0 is the fixed point at every iteration count
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val cycRanks = Graph.pageRank(cyc, iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cycRanks.values.forall(v => math.abs(v - 1.0) < 1e-12), cycRanks.toString)
    // star A→B, A→C after 2 iterations:
    //   iter1: A = 0.15, B = C = 0.15 + 0.85·(1/2)       = 0.575
    //   iter2: A = 0.15, B = C = 0.15 + 0.85·(0.15/2)    = 0.21375
    val star = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r2 = Graph.pageRank(star, iterations = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r2(1L) - 0.15) < 1e-12, r2.toString)
    assert(math.abs(r2(2L) - 0.21375) < 1e-12 && math.abs(r2(3L) - 0.21375) < 1e-12,
      r2.toString)
  }

  test("substringPairs finds exactly the shared-window pairs and maxDf drops boilerplate") {
    import spark.implicits._
    val span = "x".padTo(40, 'q').mkString // 40-char literal block
    val boiler = "b".padTo(40, 'z').mkString
    val corpus = Seq(
      (1L, s"alpha $span omega"),
      (2L, s"beta $span gamma"),
      (3L, "entirely unrelated text with no overlap whatsoever in any window")
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(corpus, w = 40, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    // a window present in 3 docs is dropped at maxDf = 2
    // prefixes must not share suffix characters, or a 2-doc context
    // window (prefix tail + boiler head) legitimately survives maxDf
    val boilerCorpus = Seq(
      (1L, s"aaa $boiler"), (2L, s"bbb $boiler"), (3L, s"ccc $boiler"))
      .toDF("doc_id", "text")
    val guarded = Dedup.substringPairs(boilerCorpus, w = 40, maxDf = 2).count()
    assert(guarded == 0L)
    // exactly-at-cap survives: maxDf = 3 keeps the 3-doc window and
    // emits all C(3,2) pairs
    val atCap = Dedup.substringPairs(boilerCorpus, w = 40, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atCap == Set((1L, 2L), (1L, 3L), (2L, 3L)), atCap.toString)
  }

  test("cappedLongList: bounded buffer, NULL on overflow, exact at the cap across partition merges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size}
    // key 1: exactly cap ids; key 2: cap+1 ids (overflows — NULL even
    // though every map-side partial is under the cap); spread over
    // many partitions so merge() paths run
    val cap = 5
    val rows = (1 to cap).map(i => (1L, i.toLong)) ++
      (1 to cap + 1).map(i => (2L, 100L + i))
    val df = spark.createDataFrame(rows).toDF("k", "id").repartition(8)
    val out = df.groupBy("k")
      .agg(graft.functions.fx.cappedLongList(col("id"), cap).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).sorted)).toMap
    assert(out(1L) == (1 to cap).map(_.toLong), out.toString)
    assert(out(2L) == null, "over-cap group must evaluate to NULL")
  }

  test("foreachBatchUpsert merges latest-per-key across micro-batches and sums counts") {
    import spark.implicits._
    // key 1: one event per batch (newer lands in batch 2 via pred);
    // key 2: both events in batch 1; key 3: only in batch 2
    val ev = Seq(
      (1L, 1000L, 10L, 1.0, false), (1L, 2000L, 11L, 2.0, true),
      (2L, 1000L, 20L, 3.0, false), (2L, 3000L, 21L, 4.0, false),
      (3L, 5000L, 30L, 5.0, true))
      .toDF("user_id", "us", "event_id", "value", "second")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        col("event_id"), col("value"), col("second"))
    val out = Stream.foreachBatchUpsert(spark, ev, col("second"),
        root = graft.io.ManifestTable.warehouseRoot(spark, "graft_upsert_spec"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out(1L) == ((2000L, 11L, 2.0, 2L)), out.toString) // cross-batch merge
    assert(out(2L) == ((3000L, 21L, 4.0, 2L)), out.toString) // intra-batch reduce
    assert(out(3L) == ((5000L, 30L, 5.0, 1L)), out.toString) // batch-2 insert
  }

  test("triangleCounts: planted graph counts each triangle once per corner") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, 3 per node) plus a pendant edge
    // 4-5 (no triangle) and a duplicate+reversed edge (must dedup)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (2L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val got = graft.ext.Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("triangleCounts: finds triangles whose corner degree-order disagrees with id-order") {
    import spark.implicits._
    // Triangle {1,2,3} where node 2 (id between 1 and 3) has the
    // HIGHEST degree (pendants 4, 5 attached): the wedge at pivot 1
    // must enumerate (y=3, z=2) in (deg, id) order — enumerating by
    // raw id (y=2, z=3) looks for the non-existent oriented edge
    // (2 -> 3) and silently drops the triangle.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (2L, 5L))
      .toDF("src", "dst")
    val got = graft.ext.Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), got.toString)
  }

  test("clusteringCoefficient: K4+pendant — interior 1.0, hub diluted, pendant 0") {
    import spark.implicits._
    // K4 on {1,2,3,4} + pendant 4-5: nodes 1-3 have every neighbor
    // pair connected (c=1.0); node 4's pendant neighbor dilutes it to
    // 2·3/(4·3) = 0.5; degree-1 node 5 is 0 by the d≥2 guard
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = graft.ext.Graph.clusteringCoefficient(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 3L, 1.0)), 3L -> ((3L, 3L, 1.0)),
      4L -> ((4L, 3L, 0.5)), 5L -> ((1L, 0L, 0.0))), got.toString)
  }

  test("countMin: estimates are a one-sided overcount, exact when the sketch is wide") {
    import spark.implicits._
    val df = (Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val cells = graft.ext.Sketch.countMinBuild(df, "k", depth = 4, width = 1024)
    // 2048 cells max regardless of input size — parameter-sized state
    assert(cells.count() <= 4L * 1024)
    val probes = Seq("a", "b", "c").toDF("k")
    val est = graft.ext.Sketch.countMinEstimate(cells, probes, "k", depth = 4, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Map("a" -> 7L, "b" -> 3L, "c" -> 1L)
    // CMS never undercounts; at width 1024 over 3 keys collisions are
    // only possible if two keys share ALL 4 rows' cells — assert exact
    exact.foreach { case (k, n) => assert(est(k) >= n, s"$k undercounted") }
    assert(est == exact, est.toString)
  }

  test("bloom: no false negatives; unseen keys mostly rejected") {
    import spark.implicits._
    val seen = (1L to 50L).toDF("k")
    val bits = graft.ext.Sketch.bloomBuild(seen, "k", k = 4, bits = 4096)
    assert(bits.count() <= 4096)
    val probes = (1L to 100L).toDF("k")
    val got = graft.ext.Sketch.bloomContains(bits, probes, "k", k = 4, bits = 4096)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (1L to 50L).foreach(k => assert(got(k), s"false negative on $k"))
    // 200 set bits of 4096 → per-probe fp chance ~ (200/4096)^4 ≈ 6e-6
    val fps = (51L to 100L).count(got(_))
    assert(fps == 0, s"unexpected false positives: $fps")
  }

  test("adamicAdar scores non-adjacent pairs by common-neighbor weight; hub guard drops hot pivots") {
    import spark.implicits._
    // path 1-2-3: (1,3) share pivot 2 (deg 2) → score 1/ln(2);
    // adjacent pairs never appear
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = graft.ext.Graph.adamicAdar(path, maxDeg = 8, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 3L, 1.442695)), got.toString)
    // star center 0 with 5 leaves: deg(0)=5 — above maxDeg=4 the hub
    // pivot is dropped and NO leaf pair is predicted; at maxDeg=8 all
    // C(5,2)=10 leaf pairs score 1/ln(5)
    val star = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    assert(graft.ext.Graph.adamicAdar(star, maxDeg = 4, topK = 100).count() == 0)
    val preds = graft.ext.Graph.adamicAdar(star, maxDeg = 8, topK = 100)
      .collect().map(r => r.getDouble(2)).toSeq
    assert(preds.length == 10 && preds.forall(_ == 0.621335), preds.toString)
  }

  test("rollingZscore: full-lookback spikes flagged, constant baseline and short history are not") {
    import spark.implicits._
    // key A: 20 flat values then a spike (scored, anomalous) then a
    // normal value; key B: constant series (sd=0 → never scored);
    // first 20 rows of A unscored (no full lookback)
    val a = (1 to 20).map(i => ("A", i.toLong, 10.0 + (i % 2) * 0.2)) ++
      Seq(("A", 21L, 50.0), ("A", 22L, 10.1))
    val b = (1 to 25).map(i => ("B", i.toLong, 7.0))
    val df = (a ++ b).toDF("k", "seq", "value")
      .withColumn("ts", timestamp_micros(col("seq") * 1000000L))
    val got = graft.ext.TimeSeries.rollingZscore(df, "k", "ts", "value", "seq",
        window = 20, threshold = 3.0)
      .select("k", "seq", "z", "is_anomaly").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getBoolean(3)))
    val aRows = got.filter(_._1 == "A").sortBy(_._2)
    assert(aRows.take(20).forall(r => r._3 == null && !r._4),
      "short history must be unscored")
    val spike = aRows(20)
    assert(spike._3.asInstanceOf[Double] > 3.0 && spike._4, spike.toString)
    val after = aRows(21)
    assert(after._3 != null && !after._4, after.toString)
    assert(got.filter(_._1 == "B").forall(r => r._3 == null && !r._4),
      "zero-variance baseline must be unscored")
  }

  test("mmrSelect: redundancy penalty promotes the diverse candidate over the near-duplicate") {
    import spark.implicits._
    // id 1 and 2 are near-identical (both rel ~0.9); id 3 is less
    // relevant (0.6) but orthogonal to them. At lam=mu=0.5 MMR must
    // pick 1, then 3 (2's redundancy ~1.0 sinks it), then 2.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.4359f, 0.0f, 0.0f)),
      // same direction as 1 up to ~1e-3, slightly LARGER norm so its
      // relevance (0.9 / |v|) ranks strictly below 1's
      (2L, Seq(0.9f, 0.4360f, 0.001f, 0.0f)),
      (3L, Seq(0.6f, 0.0f, 0.8f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.mmrSelect(e, queryId = 0L, k = 3, poolSize = 3,
        lam = 0.5, mu = 0.5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 3L, 2L), got.toString)
  }

  test("mmrSelect: corpus smaller than k emits only real candidates, no filler rows") {
    import spark.implicits._
    // only 2 neighbors exist but k=3: the output must stop at rank 2,
    // never appending vec_id=-1 / score=-Infinity filler
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.mmrSelect(e, queryId = 0L, k = 3, poolSize = 3,
        lam = 0.5, mu = 0.5)
      .orderBy("rank").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got.map(_._2).toSet == Set(1L, 2L), got.toString)
    assert(got.map(_._1) == Seq(1, 2), got.toString)
  }

  test("kCore: pendant chain peels away in cascade, the core survives intact") {
    import spark.implicits._
    // K4 on {1,2,3,4} + pendant chain 4-5-6: at k=3 node 6 (deg 1)
    // and node 5 (deg 2, then 1) peel over two rounds; K4 is stable
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = graft.ext.Graph.kCore(edges, k = 3, rounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("pmi: repeated collocation scores above independence, marginals from bigrams") {
    import spark.implicits._
    // "x y" always adjacent; "x z" never: pmi(x,y) > 0 by construction
    val docs = Seq((1L, "x y q x y r x y"), (2L, "x y z q r z")).toDF("doc_id", "text")
    val got = graft.ext.Text.pmi(docs, minCount = 1L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val (nab, pmi) = got(("x", "y"))
    assert(nab == 4L, got.toString)
    // n_a(x)=4, n_b(y)=4, N=12: pmi = ln(4*12/16) = ln(3)
    assert(math.abs(pmi - math.log(3.0)) < 1e-6, pmi.toString)
    assert(!got.contains(("x", "z")))
  }

  test("degrees: multiset degrees with distinct-neighbor counts, zero-filled") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = graft.ext.Graph.degrees(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((3L, 2L, 1L, 1L)), got.toString) // out 3 (dup kept), 2 distinct
    assert(got(2L) == ((0L, 0L, 2L, 1L)), got.toString) // sink: outdeg 0
    assert(got(3L) == ((1L, 1L, 1L, 1L)), got.toString)
  }

  test("ewma: truncated lag-chain matches the recursive EWMA within truncation error") {
    import spark.implicits._
    val alpha = 0.3
    val xs = Seq(10.0, 20.0, 5.0, 40.0, 8.0, 30.0, 12.0, 25.0)
    val df = xs.zipWithIndex.map { case (x, i) =>
        (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), i.toLong, x)
      }.toDF("k", "t", "tie", "x")
    val got = graft.ext.TimeSeries.ewma(df, "k", "t", "x", "tie", alpha, window = 20)
      .orderBy("tie").collect().map(_.getDouble(4))
    // reference: adjusted recursive EWMA (pandas ewm(adjust=True))
    var num = 0.0; var den = 0.0
    val want = xs.map { x =>
      num = x + (1 - alpha) * num; den = 1 + (1 - alpha) * den; num / den
    }
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"got $g want $w")
    }
  }

  test("resampleInterp: interior gaps blend linearly, edges stay observed") {
    import spark.implicits._
    // key 1: observations at buckets 0 and 3 (values 1.0, 7.0) with a
    // 2-bucket interior gap -> 3.0 and 5.0 interpolated
    val df = Seq(
      (1L, "2024-01-01 00:00:10", 1.0),
      (1L, "2024-01-01 03:00:20", 7.0))
      .toDF("k", "ts_s", "v").withColumn("ts", col("ts_s").cast("timestamp"))
    val got = graft.ext.TimeSeries.resampleInterp(df, "k", "ts", sum(col("v")), 3600L)
      .orderBy("bucket_ts").collect()
      .map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((1.0, true), (3.0, false), (5.0, false), (7.0, true)),
      got.toSeq.toString)
  }

  test("bpeTrain learns the hand-computed merge sequence with lexicographic ties") {
    import spark.implicits._
    // "low" x3 + "lower" x1: round 1 ties (l,o)=4 vs (o,w)=4 -> lex
    // smallest (l,o); round 2 (lo,w)=4; round 3 ties (low,e)=1 vs
    // (e,r)=1 -> (e,r)
    val docs = Seq((1L, "low low low lower")).toDF("doc_id", "text")
    val got = graft.ext.Text.bpeTrain(docs, nMerges = 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "l", "o", "lo", 4L),
      (2, "lo", "w", "low", 4L),
      (3, "e", "r", "er", 1L)), got.toSeq.toString)
  }

  test("personalizedPageRank matches the hand-computed seed-restart recurrence") {
    import spark.implicits._
    // chain 1 -> 2 -> 3, seed {1}, d = 0.85; 3 is dangling (decays)
    // r0 = (1, 0, 0)
    // r1 = (0.15, 0.85*1, 0)           = (0.15, 0.85, 0)
    // r2 = (0.15, 0.85*0.15, 0.85*0.85) = (0.15, 0.1275, 0.7225)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = graft.ext.Graph.personalizedPageRank(edges, seeds = Seq(1L),
        iterations = 2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = Seq((1L, 0.15), (2L, 0.1275), (3L, 0.7225))
    got.zip(want).foreach { case ((gi, gr), (wi, wr)) =>
      assert(gi == wi && math.abs(gr - wr) < 1e-9, s"got ${got.toSeq}")
    }
    // non-seed nodes with no path from a seed stay at exactly 0
    val iso = Seq((10L, 11L)).toDF("src", "dst")
    val isoGot = graft.ext.Graph.personalizedPageRank(iso, seeds = Seq(99L),
        iterations = 3).orderBy("id").collect().map(_.getDouble(1))
    assert(isoGot.forall(_ == 0.0), isoGot.mkString(","))
  }

  test("shortestHops: multi-source BFS distances, nearest seed wins, frontier-bounded") {
    import spark.implicits._
    // path 1-2-3-4-5-6 with seeds {1, 5}: dist = 0,1,2,1,0,1
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = graft.ext.Graph.shortestHops(path, seeds = Seq(1L, 5L), rounds = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1L),
      (5L, 0L), (6L, 1L)), got.toSeq.toString)
    // rounds bound the frontier: 1 round from seed 1 on the same path
    // reaches only {1, 2}
    val near = graft.ext.Graph.shortestHops(path, seeds = Seq(1L), rounds = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.toSeq == Seq((1L, 0L), (2L, 1L)), near.toSeq.toString)
  }

  test("labelPropagation: triangle converges to min label; bipartite path oscillates faithfully") {
    import spark.implicits._
    // triangle 1-2-3: r1 -> (2,1,1), r2 -> all 1, stable thereafter
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val triGot = graft.ext.Graph.labelPropagation(tri, rounds = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(triGot.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)), triGot.toSeq.toString)
    // path 1-2-3-4 is bipartite: synchronous LPA 2-cycles; the fixed
    // 4-round unroll lands on the hand-computed r4 state
    // r1=(2,1,2,3) r2=(1,2,1,2) r3=(2,1,2,1) r4=(1,2,1,2)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val pathGot = graft.ext.Graph.labelPropagation(path, rounds = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pathGot.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L)),
      pathGot.toSeq.toString)
  }

  test("Cdc.applyChanges: latest op wins, deletes drop, inserts and upserts land") {
    import spark.implicits._
    val base = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("k", "v", "s")
    val feed = Seq(
      (1L, 1L, "U", 11.0, "a"), (1L, 2L, "U", 12.0, "a2"), // latest wins
      (2L, 1L, "D", 0.0, ""),                              // tombstone
      (4L, 1L, "I", 40.0, "d"),                            // insert
      (5L, 1L, "U", 50.0, "e"),                            // upsert-on-absent
      (3L, 1L, "U", 31.0, "c"), (3L, 2L, "D", 0.0, ""))    // update then delete
      .toDF("k", "seq", "op", "v", "s")
    val got = graft.io.Cdc.applyChanges(base, feed, "k", "seq", "op")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 12.0, "a2"), (4L, 40.0, "d"), (5L, 50.0, "e")),
      got.toSeq.toString)
  }

  test("decompose: slot effects sum to ~0 and components re-add to the value") {
    import spark.implicits._
    // 21 contiguous days, one key: value = 100 + (day-index mod 7) —
    // pure period-7 seasonality on a flat trend of mean 103
    val rows = (0 until 21).map(d => (1L, f"2024-01-${d + 1}%02d 12:00:00",
      100.0 + (d % 7)))
    val df = rows.toDF("k", "ts", "v")
      .withColumn("ts", to_timestamp($"ts"))
    val out = graft.ext.TimeSeries.decompose(df, "k", "ts", sum($"v"), period = 7)
      .collect()
    val withTrend = out.filter(!_.isNullAt(4))
    assert(withTrend.length == 21 - 6, s"expected 15 full windows, got ${withTrend.length}")
    // flat trend = mean over any 7 consecutive days = 103
    assert(withTrend.forall(r => math.abs(r.getDouble(4) - 103.0) < 1e-9))
    // each slot's effect is its (constant) detrended value; the 7
    // effects are {-3..3} and sum to 0
    withTrend.foreach { r =>
      val v = r.getDouble(3); val se = r.getDouble(5)
      assert(math.abs(se - (v - 103.0)) < 1e-6, r.toString)
    }
    val effs = withTrend.map(r => (r.getLong(2), r.getDouble(5))).distinct
    assert(effs.length == 7 && math.abs(effs.map(_._2).sum) < 1e-6,
      effs.mkString(","))
    // components re-add: value == trend + seasonal + resid (rounded 6)
    withTrend.foreach { r =>
      val v = r.getDouble(3); val t = r.getDouble(4)
      val se = r.getDouble(5); val res = r.getDouble(6)
      assert(math.abs(v - (t + se + res)) < 5e-6, r.toString)
    }
  }

  test("applyCdcBatch is idempotent under micro-batch replay (absolute-valued ops)") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = ManifestTable.warehouseRoot(spark, "graft_cdc_replay_test")
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root,
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
        .toDF("okey", "price", "status"), statsCols = Seq("okey"))
    // a second segment no batch key falls in
    ManifestTable.append(spark, root,
      Seq((10L, 100.0, "x")).toDF("okey", "price", "status"),
      statsCols = Seq("okey"))
    val far = ManifestTable.segments(spark, root).last
    val batch = Seq(
      (1L, 1L, "U", Some(11.0), Some("a2")),
      (2L, 1L, "D", None: Option[Double], None: Option[String]),
      (4L, 1L, "I", Some(40.0), Some("d")))
      .toDF("okey", "seq", "op", "price", "status")
    def state() = ManifestTable.read(spark, root).orderBy("okey").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    graft.streaming.Stream.applyCdcBatch(spark, root, batch)
    val once = state()
    // at-least-once re-delivery of the SAME batch must be a no-op —
    // and copy-on-write must leave the segment it does not touch
    // byte-identical and still committed
    val pre = segFiles(root, far)
    graft.streaming.Stream.applyCdcBatch(spark, root, batch)
    val twice = state()
    assert(once == Seq((1L, 11.0, "a2"), (3L, 30.0, "c"), (4L, 40.0, "d"),
      (10L, 100.0, "x")), once.toString)
    assert(twice == once, s"replay changed state: $twice vs $once")
    assert(ManifestTable.segments(spark, root).contains(far),
      "the untouched segment must stay committed")
    assert(pre.nonEmpty && segFiles(root, far) == pre, s"untouched segment rewritten: $far")
    ManifestTable.destroy(spark, root)
  }

  test("streaming CDC: kill + restart mid-feed (with redelivery) equals the batch apply") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = graft.io.ManifestTable.warehouseRoot(spark, "graft_cdc_restart_test")
    graft.io.ManifestTable.destroy(spark, root)
    val base = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("okey", "price", "status")
    graft.io.ManifestTable.append(spark, root, base)
    val part1: Seq[(Long, Long, String, Option[Double], Option[String])] = Seq(
      (1L, 1L, "U", Some(11.0), Some("a2")),
      (2L, 1L, "D", None, None))
    val part2: Seq[(Long, Long, String, Option[Double], Option[String])] = Seq(
      (4L, 1L, "I", Some(40.0), Some("d")),
      (1L, 2L, "U", Some(12.0), Some("a3")))
    def runQuery(feed: Seq[(Long, Long, String, Option[Double], Option[String])]*): Unit = {
      val ms = MemoryStream[(Long, Long, String, Option[Double], Option[String])](
        implicitly[org.apache.spark.sql.Encoder[
          (Long, Long, String, Option[Double], Option[String])]],
        spark.sqlContext)
      val q = ms.toDF().toDF("okey", "seq", "op", "price", "status")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.Stream.applyCdcBatch(spark, root, batch)
        }
        .start()
      try {
        feed.foreach { f => ms.addData(f); q.processAllAvailable() }
      } finally q.stop()
    }
    // first query consumes part 1, then is killed mid-feed
    runQuery(part1)
    // restarted query: at-least-once source re-delivers part 1 before
    // part 2 (the unchecked-offset crash scenario)
    runQuery(part1, part2)
    val got = graft.io.ManifestTable.read(spark, root).orderBy("okey").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    // reference: one batch MERGE of the whole feed over the base
    val want = graft.io.Cdc.applyChanges(base,
        (part1 ++ part2).toDF("okey", "seq", "op", "price", "status"),
        "okey", "seq", "op")
      .orderBy("okey").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got == Seq((1L, 12.0, "a3"), (3L, 30.0, "c"), (4L, 40.0, "d")), got.toString)
    graft.io.ManifestTable.destroy(spark, root)
  }

  test("erPairs: within-block matches found, oversized blocks dropped by maxBlock") {
    import spark.implicits._
    // block "red": 3 close names; block "blue": 5 names (oversized at
    // maxBlock=4, must contribute NO pairs); cross-block near-match
    // (alpha red / alpha blue) must not pair either (blocking rule)
    val rows =
      Seq("alpha red", "alphb red", "zzzzzz red",
        "alpha blue", "alphb blue", "alphc blue", "alphd blue", "alphe blue")
        .flatMap(n => Seq.fill(2)(n))
    val df = rows.toDF("p_name")
    val got = graft.ext.Dedup.erPairs(df, "p_name", maxDist = 4, maxBlock = 4)
      .collect().map(r => (r.getString(0), r.getString(2), r.getInt(3))).toSet
    assert(got == Set(("alpha red", "alphb red", 1), ("alphb red", "alpha red", 1)),
      got.toString)
    // n_rows carries the pre-dedup multiplicity
    val n = graft.ext.Dedup.erPairs(df, "p_name", maxDist = 4, maxBlock = 4)
      .select("n_rows").head().getLong(0)
    assert(n == 2L)
  }

  test("Skyline.front2d equals the single-window skyline, including cross-partition domination") {
    import spark.implicits._
    // 2000 deduped (x, y) pairs with a planted staircase frontier;
    // many range slices guarantee frontier decisions CROSS partition
    // boundaries (the prefix-minima merge path, not just local wins)
    val pts = (1 to 2000).map { i =>
      val x = (i % 97).toDouble + i / 1000.0
      val y = ((i * 31) % 89).toLong + (if (i % 97 == 0) -5L else 0L)
      (x, y)
    }.distinct
    val df = pts.toDF("x", "y")
    val got = graft.ext.Skyline.front2d(df, "x", "y", partitions = 16)
      .orderBy("x", "y").collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // naive reference: running strictly-before min over the global order
    val sorted = pts.sortBy(p => (p._1, p._2))
    val want = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    var best = Long.MaxValue
    sorted.foreach { case (x, y) =>
      if (y < best) { want += ((x, y)); best = y }
    }
    assert(got == want.toSeq, s"got ${got.size} vs want ${want.size}")
  }

  test("Incremental.mergePartials: merge-of-partials equals aggregate-of-union, any split") {
    import spark.implicits._
    import graft.ext.Incremental
    val rows = (1 to 300).map(i => ((i % 17).toLong, 1L, i.toDouble, i.toLong))
    val full = rows.toDF("k", "n", "s", "m")
      .groupBy("k").agg(sum("n").as("n"), sum("s").as("s"), max("m").as("m"))
    def partial(p: Seq[((Long, Long, Double, Long))]) = p.toDF("k", "n", "s", "m")
      .groupBy("k").agg(sum("n").as("n"), sum("s").as("s"), max("m").as("m"))
    // uneven split, including keys present on only one side
    val (a, b) = rows.partition { case (k, _, _, v) => v % 5 != 0 }
    val merged = Incremental.mergePartials(partial(a), partial(b), Seq("k"),
      sumCols = Seq("n", "s"), maxCols = Seq("m"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100), r.getLong(3))).toSeq
    assert(canon(merged) == canon(full))
    // re-merging an empty delta is a no-op (idempotent absorb)
    val again = Incremental.mergePartials(merged,
      partial(Seq.empty), Seq("k"), Seq("n", "s"), maxCols = Seq("m"))
    assert(canon(again) == canon(full))
  }

  test("Profile.keySkew: group-size distribution over planted skew") {
    import spark.implicits._
    // key 1 -> 5 rows, keys 2..4 -> 2 rows, keys 5..10 -> 1 row
    val rows = Seq.fill(5)(1L) ++ (2L to 4L).flatMap(k => Seq(k, k)) ++ (5L to 10L)
    val got = graft.ext.Profile.keySkew(rows.toDF("k"), Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 1L, 2L -> 3L, 1L -> 6L), got.toString)
  }

  test("Profile.expect: violation counts, uniqueness, and pass flags in one pass") {
    import spark.implicits._
    import graft.ext.Profile
    val df = Seq((1L, Some("a"), 10.0), (2L, None: Option[String], -5.0),
        (2L, Some("c"), 20.0))
      .toDF("k", "s", "v")
    val got = Profile.expect(df,
        Seq("s_not_null" -> col("s").isNull, "v_positive" -> (col("v") <= 0)),
        uniqueCols = Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("s_not_null") == ((3L, 1L, false)), got.toString)
    assert(got("v_positive") == ((3L, 1L, false)), got.toString)
    assert(got("k_unique") == ((3L, 1L, false)), got.toString)
    // all-pass report
    val clean = Profile.expect(df, Seq("never" -> lit(false)))
      .head()
    assert(clean.getLong(2) == 0L && clean.getBoolean(3))
  }

  test("diffByKey classifies added/deleted/changed and drops unchanged keys") {
    import spark.implicits._
    val oldV = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val newV = Seq((1L, "a", 10.0), (2L, "b", 21.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val got = graft.ext.Profile.diffByKey(oldV, newV, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "deleted", 4L -> "added"), got.toString)
  }

  test("compactParquet: fewer files, identical order-independent checksum") {
    val docsDf = docs.select("doc_id", "lang", "n_chars")
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    docsDf.repartition(16).write.mode("overwrite").parquet(frag)
    val stats = graft.io.Compact.compactParquet(spark, frag, out, 1L << 30)
    assert(stats.filesIn >= 16 && stats.filesOut == 1, stats.toString)
    def sum(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Profile.tableChecksum(df, Seq("doc_id", "lang", "n_chars")).collect()(0)
    assert(sum(spark.read.parquet(out)) == sum(docsDf))
  }

  test("approx_percentile lands within one quantile step of the exact percentiles") {
    // the sketch sibling of the q20 HLL gate: GK with accuracy 1000
    // bounds rank error at n/1000; on the integral 1..50 l_quantity
    // domain that is at most one value step. Deterministic per
    // fixture, so a pass is stable.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val r = li.agg(
        expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000)").as("a"),
        expr("array(percentile(l_quantity, 0.25), percentile(l_quantity, 0.5)," +
          " percentile(l_quantity, 0.75))").as("e")).head()
      val approx = r.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue())
      val exact = r.getSeq[Double](1)
      approx.zip(exact).foreach { case (a, e) =>
        assert(math.abs(a - e) <= 1.0, s"$dir: approx $a vs exact $e")
      }
    }
  }

  test("q20 HLL estimates stay within the documented rsd of exact distinct counts") {
    // Since round 9 q20_approx_distinct also carries a hash oracle (it
    // emits within_tol and the oracle replays TRUE), but that gate runs
    // at sf0.01 only; this spec extends the same quantified bound to
    // sf0.1: every per-event_type estimate of the q20 sketch (rsd 0.02)
    // must sit within 0.05 — the documented default rsd — of the exact
    // count. Deterministic for a fixed fixture, so a pass here is stable.
    val bound = 0.05
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val both = ev.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
          count_distinct(col("user_id")).as("exact"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        val approx = r.getLong(1).toDouble
        val exact = r.getLong(2).toDouble
        val relErr = math.abs(approx - exact) / exact
        assert(relErr <= bound,
          s"$dir ${r.getString(0)}: approx $approx vs exact $exact (relErr $relErr > $bound)")
      }
    }
  }

  test("mergeUpsertBatch: replay-idempotent, partition-scoped IO, partial-commit convergence") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    import graft.io.ManifestTable
    val root = ManifestTable.warehouseRoot(spark, "graft_upsert_replay_spec")
    ManifestTable.destroy(spark, root)
    val b0 = Seq((1L, 1000L, 10L, 1.0), (2L, 1000L, 20L, 3.0))
      .toDF("user_id", "us", "event_id", "value")
    val b1 = Seq((3L, 1000L, 30L, 4.0)).toDF("user_id", "us", "event_id", "value")
    val b2 = Seq((1L, 2000L, 11L, 2.0), (4L, 5000L, 40L, 5.0))
      .toDF("user_id", "us", "event_id", "value")
    def snapshot() = ManifestTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    Stream.mergeUpsertBatch(spark, root, b0, 0L)
    Stream.mergeUpsertBatch(spark, root, b1, 1L) // insert-only: own segment
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preB2 = snapshot()
    val v = ManifestTable.versions(spark, root).max
    val segs = ManifestTable.segments(spark, root)
    val far = segs.last // key 3's segment: no b2 key falls in it
    val farFiles = segFiles(root, far)
    // crash after the batch's segments are written, before its
    // manifest commit: a segment dir of version v + 1 that no manifest
    // names (here a copy of a live segment) — readers must not see it
    val orphan = s"seg-${v + 1}-orphan"
    FileUtil.copy(fs, new Path(root, segs.head), fs, new Path(root, orphan),
      false, spark.sparkContext.hadoopConfiguration)
    assert(snapshot() == preB2, "an uncommitted segment must stay invisible")
    // the re-delivered batch converges to the fault-free state
    Stream.mergeUpsertBatch(spark, root, b2, 2L)
    val applied = snapshot()
    assert(applied.map(t => t._1 -> (t._2, t._5, t._6)).toMap == Map(
      1L -> (2000L, 2L, 2L), 2L -> (1000L, 1L, 0L), 3L -> (1000L, 1L, 1L),
      4L -> (5000L, 1L, 2L)), applied.toString)
    // copy-on-write is segment-scoped: a segment holding no batch key
    // stays committed and byte-identical
    assert(ManifestTable.segments(spark, root).contains(far))
    assert(farFiles.nonEmpty && segFiles(root, far) == farFiles,
      s"untouched segment rewritten: $far")
    // at-least-once recovery re-delivers the last batch with the SAME
    // id: the batch-id stamp makes it a no-op (no double-counted updates)
    Stream.mergeUpsertBatch(spark, root, b2, 2L)
    assert(snapshot() == applied, s"replay changed state: ${snapshot()} vs $applied")
    ManifestTable.destroy(spark, root)
  }

  test("pqTrainCodebooks lowers quantization error vs the first-k seed") {
    val vecs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val m = 8; val dsub = 8
    def err(cb: Seq[(Long, Seq[Double])]): Double =
      vecs.map { v =>
        (0 until m).map { s =>
          cb.map { case (_, c) =>
            (0 until dsub).map { j =>
              val t = v(s * dsub + j) - c(s * dsub + j); t * t
            }.sum
          }.min
        }.sum
      }.sum
    val seedErr = err(Similarity.pqSeedCodebook(emb))
    val trainedErr = err(Similarity.pqTrainCodebooks(emb, m = m, k = 16, iters = 2))
    assert(trainedErr < seedErr,
      s"trained=$trainedErr should beat seed=$seedErr")
    // Lloyd monotonicity: a second round never worsens the objective
    // (up to the round-6 centroid perturbation, hence the tiny slack)
    val oneErr = err(Similarity.pqTrainCodebooks(emb, m = m, k = 16, iters = 1))
    assert(trainedErr <= oneErr * 1.001,
      s"iters=2 ($trainedErr) should not exceed iters=1 ($oneErr)")
  }

  test("pqAdcTopK returns k ascending scores and ranks the query's own code first") {
    val top = Similarity.pqAdcTopK(emb, queryId = 42L, topK = 10).collect()
    assert(top.length == 10)
    val scores = top.map(_.getDouble(1))
    assert(scores.forall(_ >= 0.0))
    assert(scores.sliding(2).forall(p => p(0) <= p(1)), scores.mkString(","))
    // the query scores against its OWN codes at pure quantization
    // error — no other vector sharing those codes can score lower, so
    // with id tie-break the query can only be beaten by an exact
    // code-mate; assert it appears in the top k
    assert(top.map(_.getAs[Number](0).longValue).contains(42L))
  }

  test("ivfPqTopK with every cell probed equals plain PQ ADC (minus the query row)") {
    // exhaustive probe makes the IVF prune a no-op, so the composed
    // path must reproduce pqAdcTopK exactly — same codebook, same ADC
    // table, same (adc, id) order — except ivfPqTopK excludes the
    // query row itself
    val cb = Similarity.pqTrainCodebooks(emb, m = 8, k = 16, iters = 1)
    val full = Similarity.ivfPqTopK(emb, queryId = 42L, topK = 10,
        ncells = 16, nprobe = 16, codebookOpt = Some(cb))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
    val adc = Similarity.pqAdcTopK(emb, queryId = 42L, topK = 11,
        codebookOpt = Some(cb))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
      .filterNot(_._1 == 42L).take(10)
    assert(full.toSeq == adc.toSeq,
      s"ivfpq=${full.toSeq}\nadc=${adc.toSeq}")
    // pruned probe returns a subset of the corpus ranking, still sorted
    val pruned = Similarity.ivfPqTopK(emb, queryId = 42L, topK = 10,
        ncells = 16, nprobe = 4, codebookOpt = Some(cb))
      .collect().map(_.getDouble(1))
    assert(pruned.sliding(2).forall(p => p(0) <= p(1)), pruned.mkString(","))
  }

  test("Spearman rho matches a direct driver-side rank correlation") {
    val row = SparkEntry.queries("stats_spearman")(spark, TestSession.sf)
      .collect()(0)
    val xy = spark.read.parquet(s"${TestSession.sf}/lineitem.parquet")
      .select("l_quantity", "l_extendedprice").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def avgRanks(vs: Array[Double]): Map[Double, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val lt = sorted.count(_ < v); val eq = sorted.count(_ == v)
        v -> (lt + (eq + 1) / 2.0)
      }.toMap
    }
    val rx = avgRanks(xy.map(_._1)); val ry = avgRanks(xy.map(_._2))
    val pairs = xy.map { case (x, y) => (rx(x), ry(y)) }
    val n = pairs.length.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val rho = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(row.getLong(0) == pairs.length)
    assert(math.abs(row.getDouble(1) - rho) < 1e-6,
      s"rho ${row.getDouble(1)} vs direct $rho")
  }

  test("ANOVA F matches a direct driver-side sum-of-squares computation") {
    val row = SparkEntry.queries("stats_anova")(spark, TestSession.sf)
      .collect()(0)
    val data = spark.read.parquet(s"${TestSession.sf}/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val groups = data.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = data.length.toDouble
    val grand = data.map(_._2).sum / n
    val ssb = groups.values.map { g =>
      val m = g.sum / g.length; g.length * (m - grand) * (m - grand)
    }.sum
    val ssw = groups.values.map { g =>
      val m = g.sum / g.length; g.map(v => (v - m) * (v - m)).sum
    }.sum
    val f = (ssb / (groups.size - 1)) / (ssw / (n - groups.size))
    assert(row.getLong(0) == data.length)
    assert(math.abs(row.getDouble(1) - ssb) < 1e-4, s"ssb ${row.getDouble(1)} vs $ssb")
    assert(math.abs(row.getDouble(2) - ssw) < 1e-4, s"ssw ${row.getDouble(2)} vs $ssw")
    assert(math.abs(row.getDouble(3) - f) < 1e-6, s"F ${row.getDouble(3)} vs $f")
  }

  test("KMV sketch estimates land within the 1/sqrt(K) error band") {
    val row = SparkEntry.queries("sketch_kmv")(spark, TestSession.sf)
      .collect()(0)
    val estA = row.getDouble(0); val exactA = row.getLong(1).toDouble
    val estB = row.getDouble(2); val exactB = row.getLong(3).toDouble
    val estU = row.getDouble(4); val exactU = row.getLong(5).toDouble
    // K=256 → σ ≈ 6.3%; allow 4σ. When the key set is smaller than K
    // the sketch is exact by construction.
    for ((e, x, tag) <- Seq((estA, exactA, "a"), (estB, exactB, "b"),
        (estU, exactU, "union")))
      assert(math.abs(e - x) / x <= 0.25, s"$tag: est $e vs exact $x")
    val exactI = row.getLong(8).toDouble
    val estI = row.getDouble(7)
    assert(math.abs(estI - exactI) / math.max(1.0, exactI) <= 0.35,
      s"intersect est $estI vs exact $exactI")
  }

  test("HITS: star graph puts all authority on the sink, all hub mass on sources") {
    import spark.implicits._
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = graft.ext.Graph.hits(edges, iterations = 3).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    // node 3 receives from the two strongest hubs → max authority
    assert(r(3)._1 == 1.0, s"authority(3) = ${r(3)._1}")
    // 1 and 2 point at the top authority → max hubs; 4 points nowhere
    assert(r(1)._2 == 1.0 && r(2)._2 == 1.0, r.toString)
    assert(r(4)._2 == 0.0 && r(1)._1 == 0.0 && r(2)._1 == 0.0, r.toString)
  }

  test("target encoding matches a direct leave-one-out recomputation") {
    val rows = SparkEntry.queries("feat_target_encode")(spark, TestSession.sf)
      .collect()
    val o = spark.read.parquet(s"${TestSession.sf}/orders.parquet")
      .select("o_orderpriority", "o_orderstatus").collect()
      .map(r => (r.getString(0), if (r.getString(1) == "F") 1L else 0L))
    val byCat = o.groupBy(_._1)
    val pGlob = o.map(_._2).sum.toDouble / o.length
    for (r <- rows) {
      val (cat, y) = (r.getString(0), r.getLong(1))
      val g = byCat(cat).map(_._2)
      val (n, sY) = (g.length, g.sum)
      assert(r.getLong(2) == n && r.getLong(3) == sY, r.toString)
      val loo = (sY - y).toDouble / (n - 1)
      val smooth = ((sY - y).toDouble + 10.0 * pGlob) / (n - 1 + 10)
      assert(math.abs(r.getDouble(4) - loo) < 1e-6, s"$cat/$y loo")
      assert(math.abs(r.getDouble(5) - smooth) < 1e-6, s"$cat/$y smooth")
    }
  }

  test("DP counts: seeded Laplace noise is bounded, consistent, deterministic") {
    val q = SparkEntry.queries("priv_dpcount")(_: org.apache.spark.sql.SparkSession,
      _: String)
    val r1 = q(spark, TestSession.sf).collect()
    val r2 = q(spark, TestSession.sf).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq,
      "seeded noise must be run-deterministic")
    // ladder extremes: |q_Laplace((0.5)/64)| = ln(64) ≈ 4.159
    for (r <- r1) {
      val noise = r.getDouble(2)
      assert(math.abs(noise) <= 4.16, s"noise $noise outside ladder range")
      assert(math.abs(r.getDouble(3) - (r.getLong(1) + noise)) < 1e-6,
        "noisy = true + noise must hold")
    }
  }

  test("range search returns exactly the above-threshold pairs") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.rangeSearch(vecs, vecs.filter(col("vec_id") === 0L), 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // only vector 2 (cos ≈ 0.994) clears 0.5 against query 0
    assert(got.map(_._1).toSeq == Seq(2L), got.mkString(","))
    assert(math.abs(got(0)._2 - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-4)
  }

  test("decision stump matches a direct driver-side best-split search") {
    val row = SparkEntry.queries("ml_stump")(spark, TestSession.sf).collect()(0)
    val ev = spark.read.parquet(s"${TestSession.sf}/events.parquet")
      .select("value", "event_type").collect()
      .map(r => (math.floor(r.getDouble(0)).toLong,
        if (r.getString(1) == "purchase") 1L else 0L))
    val n = ev.length.toDouble; val p = ev.map(_._2).sum.toDouble
    def gini(pp: Double, nn: Double) =
      1.0 - (pp / nn) * (pp / nn) - ((nn - pp) / nn) * ((nn - pp) / nn)
    val best = ev.map(_._1).distinct.sorted.flatMap { t =>
      val l = ev.filter(_._1 <= t)
      if (l.length == ev.length) None
      else {
        val nl = l.length.toDouble; val pl = l.map(_._2).sum.toDouble
        Some((BigDecimal(nl / n * gini(pl, nl) + (n - nl) / n *
          gini(p - pl, n - nl)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble, t))
      }
    }.min
    assert(row.getLong(0) == best._2, s"split ${row.getLong(0)} vs ${best._2}")
    assert(math.abs(row.getDouble(1) - best._1) < 1e-9, "cost")
    assert(row.getDouble(1) <= row.getDouble(6),
      "the best split must not be worse than the unsplit Gini")
  }

  test("keyphrases are each document's top tf-idf terms") {
    val rows = SparkEntry.queries("text_keyphrase")(spark, TestSession.sf)
      .collect()
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .toMap
    val nD = docs.size.toDouble
    val dfm = docs.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    // every reported rank-1 phrase must attain the doc's max score
    val byDoc = rows.groupBy(_.getLong(0))
    for ((docId, rs) <- byDoc.take(50)) {
      val toks = docs(docId)
      val scores = toks.groupBy(identity).map { case (t, g) =>
        t -> BigDecimal(g.length * math.log(nD / dfm(t))).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val top = rs.minBy(_.getLong(1))
      assert(scores(top.getString(2)) == scores.values.max,
        s"doc $docId rank-1 ${top.getString(2)} not argmax")
      assert(rs.map(_.getDouble(3)).sorted.reverse.toSeq ==
        rs.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq,
        s"doc $docId scores not descending by rank")
    }
  }

  test("Hampel repair substitutes the rolling median only on outliers") {
    val rows = SparkEntry.queries("ts_hampel")(spark, TestSession.sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (x, med, mad) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val outlier = math.abs(x - med) > 4.4478 * mad
      assert(r.getBoolean(5) == outlier, r.toString)
      assert(r.getDouble(6) == (if (outlier) med else x), r.toString)
    }
    // med7/mad7 are exact middle elements: recompute one series from the
    // RAW daily aggregation (emitted rows start at day 7 — the first six
    // days feed frames but are not emitted)
    val typ = rows.head.getString(0)
    val daily = Stream.normalizeTs(
        spark.read.parquet(s"${TestSession.sf}/events.parquet"))
      .filter(col("event_type") === typ)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("x"))
      .orderBy("day").collect().map(_.getDouble(1))
    val emitted = rows.filter(_.getString(0) == typ)
      .sortBy(_.getTimestamp(1).getTime)
    assert(emitted.length == daily.length - 6)
    for (i <- 6 until daily.length) {
      val wnd = daily.slice(i - 6, i + 1).sorted
      assert(emitted(i - 6).getDouble(3) == wnd(3),
        s"med7 at $i: ${emitted(i - 6).getDouble(3)} vs ${wnd(3)}")
      val med = wnd(3)
      val madW = daily.slice(i - 6, i + 1).map(v => math.abs(v - med)).sorted
      assert(emitted(i - 6).getDouble(4) == madW(3), s"mad7 at $i")
    }
  }

  test("harmonic closeness: path graph sums 1/dist over the truncated ball") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val r = graft.ext.Graph.harmonicCloseness(edges, Seq(1L), rounds = 4)
      .collect()(0)
    // 4-hop ball from node 1 on the path: dists 1,2,3,4 (node 6 is cut)
    assert(r.getLong(1) == 4, s"n_reached ${r.getLong(1)}")
    val expect = BigDecimal(1.0 + 0.5 + 1.0 / 3.0 + 0.25)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) == expect, s"harmonic ${r.getDouble(2)} vs $expect")
  }

  test("k-center greedy picks the farthest-first trace") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val sel = Similarity.kCenterSelect(vecs, k = 3, seedId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // farthest from 0 is the antipode 3 (d=2), then 2 (d=1 to both)
    assert(sel.toSeq == Seq((1L, 0L), (2L, 3L), (3L, 2L)), sel.mkString(","))
    // farthest-first distances are non-increasing on the real fixture
    val ds = SparkEntry.queries("sample_kcenter")(spark, TestSession.sf)
      .collect().sortBy(_.getLong(0)).map(_.getDouble(2)).drop(1)
    assert(ds.sliding(2).forall(p => p(0) >= p(1)),
      s"coverage radii must not increase: ${ds.mkString(",")}")
  }

  test("Holt-Winters: forecast re-adds the next day's slot effect") {
    val rows = SparkEntry.queries("ts_holtwinters")(spark, TestSession.sf)
      .collect()
    assert(rows.nonEmpty)
    // recompute slot effects driver-side from the raw daily series
    val daily = Stream.normalizeTs(
        spark.read.parquet(s"${TestSession.sf}/events.parquet"))
      .groupBy(col("event_type"),
        (unix_timestamp(date_trunc("day", col("ts"))) / 86400L).cast("long")
          .as("day"))
      .agg(round(sum("value"), 4).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val eff = daily.groupBy(d => (d._1, d._2 % 7)).map { case (k, g) =>
      val wavg = r6(g.map(_._3).sum / g.length)
      val gall = daily.filter(_._1 == k._1)
      val gavg = r6(gall.map(_._3).sum / gall.length)
      k -> r6(wavg - gavg)
    }
    for (r <- rows.take(20)) {
      val e1 = eff((r.getString(0), (r.getLong(1) + 1) % 7))
      val fc = r6(r6(r.getDouble(3) + r.getDouble(4)) + e1)
      assert(r.getDouble(5) == fc,
        s"${r.getString(0)}/${r.getLong(1)}: ${r.getDouble(5)} vs $fc")
    }
  }

  test("whitening stats match a direct per-dimension recomputation") {
    val rows = SparkEntry.queries("emb_whiten")(spark, TestSession.sf)
      .collect()
    assert(rows.length == 64)
    val vecs = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    for (r <- rows.take(8)) {
      val d = r.getLong(0).toInt
      val vs = vecs.map(_(d))
      val mu = vs.sum / vs.length
      val sd = math.sqrt(vs.map(v => (v - mu) * (v - mu)).sum / (vs.length - 1))
      assert(r.getLong(1) == vs.length)
      assert(math.abs(r.getDouble(2) - mu) < 1e-5, s"dim $d mu")
      assert(math.abs(r.getDouble(3) - sd) < 1e-5, s"dim $d sigma")
      assert(r.getDouble(4) < 0 && r.getDouble(5) > 0,
        s"dim $d z-range should straddle 0")
    }
  }

  test("Brown-Forsythe medians are the exact positional medians") {
    val row = SparkEntry.queries("stats_bf")(spark, TestSession.sf).collect()(0)
    val li = spark.read.parquet(s"${TestSession.sf}/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def med(vs: Array[Double]): Double = {
      val s = vs.sorted; val n = s.length
      (s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)) / 2.0
    }
    assert(row.getDouble(0) == med(li.filter(_._1 == "A").map(_._2)), "med_a")
    assert(row.getDouble(1) == med(li.filter(_._1 == "N").map(_._2)), "med_n")
    assert(row.getDouble(2) == med(li.filter(_._1 == "R").map(_._2)), "med_r")
    assert(row.getLong(3) == li.length)
    assert(row.getDouble(6) >= 0.0, "F must be non-negative")
  }

  test("CMS top-k estimates never undercount and rank descending") {
    val rows = SparkEntry.queries("sketch_cms_topk")(spark, TestSession.sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getLong(2) >= r.getLong(3),
        s"CMS must overcount: est ${r.getLong(2)} < exact ${r.getLong(3)}")
    val ests = rows.map(_.getLong(2))
    assert(ests.sliding(2).forall(p => p(0) >= p(1)),
      s"estimates must be non-increasing by rank: ${ests.mkString(",")}")
  }

  test("forecast backtest: metrics are internally consistent") {
    val rows = SparkEntry.queries("ts_forecast_eval")(spark, TestSession.sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) > 0, "n_eval")
      assert(r.getDouble(2) >= 0 && r.getDouble(3) >= 0, "mae/rmse >= 0")
      assert(r.getDouble(3) >= r.getDouble(2) * 0.999,
        s"RMSE >= MAE must hold: ${r.getDouble(3)} vs ${r.getDouble(2)}")
      assert(r.getDouble(4) > 0, "mase > 0")
    }
  }

  test("FD audit: violation rate matches the majority complement") {
    val rows = SparkEntry.queries("dq_fd")(spark, TestSession.sf).collect()
    val cust = spark.read.parquet(s"${TestSession.sf}/customer.parquet")
      .select("c_mktsegment", "c_nationkey").collect()
      .map(r => (r.getString(0), r.getInt(1).toLong))
    for (r <- rows) {
      val g = cust.filter(_._1 == r.getString(0)).map(_._2)
      val counts = g.groupBy(identity).view.mapValues(_.size)
      val maxC = counts.values.max
      // argmax with smallest-key ties
      val majority = counts.filter(_._2 == maxC).keys.min
      assert(r.getLong(1) == g.length && r.getLong(2) == counts.size)
      assert(r.getLong(3) == majority && r.getLong(4) == maxC, r.toString)
      assert(math.abs(r.getDouble(5) -
        (g.length - maxC).toDouble / g.length) < 1e-6)
    }
  }

  test("effect size: Cohen's d from pooled sd, Hedges' g shrinks toward 0") {
    val r = SparkEntry.queries("stats_effect")(spark, TestSession.sf)
      .collect()(0)
    val d = r.getDouble(4); val g = r.getDouble(5)
    assert(math.abs(g) < math.abs(d), "the small-sample correction shrinks |d|")
    assert(math.abs(r.getDouble(2) / r.getDouble(3) - d) < 1e-5,
      "d = mean_diff / pooled_sd")
  }

  test("text search returns the highest-scoring BM25 docs in order") {
    val hits = SparkEntry.queries("text_search")(spark, TestSession.sf)
      .collect().sortBy(_.getLong(0))
    val all = SparkEntry.queries("text_bm25")(spark, TestSession.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bestScores = all.map(_._2).sorted.reverse.take(10)
    assert(hits.map(_.getDouble(2)).toSeq == bestScores.toSeq,
      "top-10 scores must equal the 10 best corpus scores")
  }

  test("KL divergence vs corpus mix is non-negative, entropy bounded") {
    val rows = SparkEntry.queries("stats_kl")(spark, TestSession.sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getDouble(3) >= -1e-9, s"${r.getString(0)}: KL must be >= 0")
      assert(r.getDouble(4) >= -1e-9 &&
        r.getDouble(4) <= math.log(r.getLong(2).toDouble) + 1e-9,
        s"${r.getString(0)}: entropy outside [0, ln(n_langs)]")
    }
    // direct recompute for one source
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val src = rows.head.getString(0)
    val inSrc = docs.filter(_._1 == src)
    val kl = inSrc.groupBy(_._2).map { case (lang, g) =>
      val p = g.length.toDouble / inSrc.length
      val q = docs.count(_._2 == lang).toDouble / docs.length
      p * math.log(p / q)
    }.sum
    assert(math.abs(rows.head.getDouble(3) - kl) < 1e-5,
      s"KL ${rows.head.getDouble(3)} vs direct $kl")
  }

  test("power-iteration PCA: Rayleigh quotient dominates the diagonal") {
    val rows = SparkEntry.queries("emb_pca_power")(spark, TestSession.sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 64)
    val v = rows.map(_.getDouble(1))
    assert(math.abs(v.map(math.abs).max - 1.0) < 1e-9,
      "max-normalized loading must peak at 1")
    // scatter matrix driver-side
    val vecs = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val mu = (0 until 64).map(d => vecs.map(_(d)).sum / vecs.length).toArray
    def sjk(j: Int, k: Int) = vecs.map(x => (x(j) - mu(j)) * (x(k) - mu(k))).sum
    val sv = (0 until 64).map(j => (0 until 64).map(k => sjk(j, k) * v(k)).sum)
    val rayleigh = (0 until 64).map(j => v(j) * sv(j)).sum /
      v.map(x => x * x).sum
    val maxDiag = (0 until 64).map(j => sjk(j, j)).max
    assert(rayleigh >= 0.95 * maxDiag,
      s"Rayleigh $rayleigh should dominate the max diagonal $maxDiag")
  }

  test("merkle digest folds to the flat checksum") {
    val leaves = SparkEntry.queries("integrity_merkle")(spark, TestSession.sf)
      .collect()
    val flat = SparkEntry.queries("integrity_checksum")(spark, TestSession.sf)
      .collect()(0)
    assert(leaves.length == 16)
    assert(leaves.map(_.getLong(1)).sum == flat.getLong(0),
      "leaf row counts must sum to the table count")
    assert(leaves.map(_.getLong(2)).reduce(_ ^ _) == flat.getLong(1),
      "leaf xors must fold to the flat xor")
    assert(leaves.map(_.getString(4)).distinct.length == 1,
      "every leaf row carries the same root digest")
  }

  test("k-fold assignment covers all folds and is balanced") {
    val rows = SparkEntry.queries("sample_kfold")(spark, TestSession.sf)
      .collect()
    val perFold = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(perFold.keySet == Set(0L, 1L, 2L, 3L, 4L))
    val total = perFold.values.sum
    for ((f, n) <- perFold)
      assert(math.abs(n.toDouble / total - 0.2) < 0.1, s"fold $f share ${n.toDouble / total}")
  }

  test("Theil-Sen: pair count and a slope bracketed by extreme pair slopes") {
    val r = SparkEntry.queries("stats_theilsen")(spark, TestSession.sf)
      .collect()(0)
    val nd = r.getLong(0)
    assert(r.getLong(1) == nd * (nd - 1) / 2, "n_pairs = C(n_days, 2)")
    assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
  }

  test("boxplot stats: ordered quartiles and a verified outlier count") {
    val rows = SparkEntry.queries("stats_boxplot")(spark, TestSession.sf)
      .collect()
    val li = spark.read.parquet(s"${TestSession.sf}/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    for (r <- rows) {
      val (q1, med, q3) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(q1 <= med && med <= q3, r.toString)
      assert(r.getDouble(5) == q3 - q1, "iqr")
      assert(r.getDouble(6) == q1 - 1.5 * (q3 - q1), "lo fence")
      assert(r.getDouble(7) == q3 + 1.5 * (q3 - q1), "hi fence")
      val g = li.filter(_._1 == r.getString(0)).map(_._2)
      assert(r.getLong(8) ==
        g.count(v => v < r.getDouble(6) || v > r.getDouble(7)), "outliers")
      // exact positional quartiles vs a direct sort
      val s = g.sorted
      assert(q1 == s((g.length + 3) / 4 - 1), "q1 positional")
      assert(q3 == s((3 * g.length + 1) / 4 - 1), "q3 positional")
    }
  }

  test("langid confusion grid: marginals match the corpus, accuracy sane") {
    val grid = SparkEntry.queries("text_langid_eval")(spark, TestSession.sf)
      .collect()
    val total = grid.map(_.getLong(2)).sum
    val nDocs = spark.read.parquet(s"${TestSession.sf}/documents.parquet").count()
    assert(total == nDocs, "grid must cover every document exactly once")
    val correct = grid.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    assert(correct.toDouble / total > 0.3,
      s"heuristic accuracy ${correct.toDouble / total} implausibly low")
  }

  test("runs test: sign counts split at the median, runs within bounds") {
    val r = SparkEntry.queries("stats_runs")(spark, TestSession.sf).collect()(0)
    val (n1, n2, runs) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(math.abs(n1 - n2) <= 1, s"median split must balance: $n1 vs $n2")
    assert(runs >= 1 && runs <= n1 + n2, s"runs $runs out of bounds")
    assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite)
  }

  test("multiline CSV roundtrip preserves embedded record delimiters") {
    val rows = SparkEntry.queries("load_csv_multiline")(spark, TestSession.sf)
      .limit(3).collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getString(1).startsWith("line1\nline2 "),
        s"newline lost in: ${r.getString(1).take(30)}")
  }

  test("asof tolerance nulls exactly the stale attachments") {
    val plain = SparkEntry.queries("asof_join")(spark, TestSession.sf)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        Option(r.getString(2))).toMap
    val tol = SparkEntry.queries("asof_tolerance")(spark, TestSession.sf)
      .collect()
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    var stale = 0
    for (r <- tol) {
      val key = (r.getLong(0), r.getTimestamp(1))
      val got = Option(r.getString(2))
      plain(key) match {
        case None => assert(got.isEmpty)
        case Some(d) =>
          val gap = (r.getTimestamp(1).getTime - fmt.parse(d).getTime) / 1000L
          if (gap <= 2592000L) assert(got.contains(d), s"$key should keep $d")
          else { assert(got.isEmpty, s"$key should be stale"); stale += 1 }
      }
    }
    assert(stale > 0, "fixture should exercise the stale branch")
  }

  test("weighted SSSP: exact distances on a tiny weighted graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 2L))
      .toDF("src", "dst", "w")
    val d = graft.ext.Graph.weightedSssp(edges, Seq(1L), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1→2 (5), 1→2→3 (6) beats 1→3 (10), then →4 (8)
    assert(d == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 8L), d.toString)
  }

  test("bivariate OLS matches a driver-side normal-equation solve") {
    val r = SparkEntry.queries("stats_regression2")(spark, TestSession.sf)
      .collect()(0)
    val li = spark.read.parquet(s"${TestSession.sf}/lineitem.parquet")
      .select("l_quantity", "l_discount", "l_extendedprice").collect()
      .map(x => (x.getDouble(0), math.round(x.getDouble(1) * 100.0).toDouble,
        x.getDouble(2) / 1000000.0))
    val n = li.length.toDouble
    val (sx, sz, sy) = (li.map(_._1).sum, li.map(_._2).sum, li.map(_._3).sum)
    val sxx = li.map(p => p._1 * p._1).sum
    val sxz = li.map(p => p._1 * p._2).sum
    val szz = li.map(p => p._2 * p._2).sum
    val sxy = li.map(p => p._1 * p._3).sum
    val szy = li.map(p => p._2 * p._3).sum
    val det = n * (sxx * szz - sxz * sxz) - sx * (sx * szz - sxz * sz) +
      sz * (sx * sxz - sxx * sz)
    val b0 = (sy * (sxx * szz - sxz * sxz) - sx * (sxy * szz - sxz * szy) +
      sz * (sxy * sxz - sxx * szy)) / det
    val b1 = (n * (sxy * szz - sxz * szy) - sy * (sx * szz - sxz * sz) +
      sz * (sx * szy - sxy * sz)) / det
    assert(math.abs(r.getDouble(1) - b0) < 1e-5, s"intercept ${r.getDouble(1)} vs $b0")
    assert(math.abs(r.getDouble(2) - b1) < 1e-5, s"beta_qty ${r.getDouble(2)} vs $b1")
  }

  test("LSH recall scorecard: hits bounded by both sides, usable recall") {
    val rows = SparkEntry.queries("simsearch_recall")(spark, TestSession.sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)),
        s"hits exceed a side: $r")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    val avg = rows.map(_.getDouble(4)).sum / rows.length
    assert(avg >= 0.5, s"mean recall@10 $avg — the banded index is unusable")
  }

  test("streaming SCD2: interval chains close, one open row per key") {
    val rows = SparkEntry.queries("stream_scd2")(spark, TestSession.sf)
      .collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    for ((u, vs) <- byUser) {
      val sorted = vs.sortBy(r => (r.getLong(1), r.getLong(2)))
      assert(sorted.count(_.getBoolean(5)) == 1, s"user $u open-row count")
      assert(sorted.last.getBoolean(5), s"user $u: last version must be open")
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray) if !a.getBoolean(5))
        assert(a.getLong(4) == b.getLong(1),
          s"user $u: valid_to must chain to the next valid_from")
    }
  }

  test("SCD2 batch merge is replay-idempotent") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = ManifestTable.warehouseRoot(spark, "graft_scd2_replay_test")
    ManifestTable.destroy(spark, root)
    def state() = ManifestTable.read(spark, root).collect().map(_.toString).sorted.toSeq
    val b1 = Seq((1L, 100L, 10L, 1.0), (1L, 200L, 11L, 2.0), (2L, 150L, 12L, 3.0))
      .toDF("user_id", "us", "event_id", "value")
    Stream.mergeScd2Batch(spark, root, b1)
    val once = state()
    Stream.mergeScd2Batch(spark, root, b1) // at-least-once redelivery
    assert(once == state(), "redelivered batch must rewrite identical rows")
    // a new key lands in its own segment; an incremental batch for key 1
    // versions only its key and leaves that segment byte-identical
    Stream.mergeScd2Batch(spark, root,
      Seq((3L, 120L, 14L, 5.0)).toDF("user_id", "us", "event_id", "value"))
    val far = ManifestTable.segments(spark, root).last
    val farFiles = segFiles(root, far)
    val b2 = Seq((1L, 300L, 13L, 4.0)).toDF("user_id", "us", "event_id", "value")
    Stream.mergeScd2Batch(spark, root, b2)
    assert(ManifestTable.segments(spark, root).contains(far))
    assert(farFiles.nonEmpty && segFiles(root, far) == farFiles,
      s"untouched segment rewritten: $far")
    val after = ManifestTable.read(spark, root).collect()
    assert(after.count(r => r.getLong(0) == 1L) == 3, "user 1 gains a version")
    assert(after.filter(r => r.getLong(0) == 1L && r.getLong(2) == 11L)
      .forall(r => r.getLong(4) == 300L), "previous open row closes at the new ts")
    assert(after.count(_.getBoolean(5)) == 3, "one open row per key")
    ManifestTable.destroy(spark, root)
  }

  test("PCM frames match a driver-side md5 sample decode") {
    val rows = SparkEntry.queries("multimodal_audio")(spark, TestSession.sf)
      .collect()
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text").limit(5).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    for (d <- docs) {
      val hex = md.digest(d.getString(1).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val pcm = (0 until 8).map { i =>
        val u = java.lang.Long.parseLong(hex.substring(i * 4, i * 4 + 4), 16)
        if (u >= 32768) u - 65536 else u
      }
      for (f <- 0 until 2) {
        val fr = pcm.slice(f * 4, f * 4 + 4)
        val energy = fr.map(s => s * s).sum
        val zcr = fr.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
        val row = rows.find(r => r.getLong(0) == d.getLong(0) &&
          r.getLong(1) == f).get
        assert(row.getLong(2) == energy && row.getLong(3) == zcr,
          s"doc ${d.getLong(0)} frame $f")
      }
    }
  }

  test("Gini matches a driver-side sorted computation and sits in [0,1)") {
    val r = SparkEntry.queries("stats_gini")(spark, TestSession.sf).collect()(0)
    val cents = spark.read.parquet(s"${TestSession.sf}/customer.parquet")
      .select("c_acctbal").collect()
      .map(x => math.round(x.getDouble(0) * 100.0) + 100000L).sorted
    val n = cents.length.toLong
    val s = cents.sum
    val num = cents.zipWithIndex.map { case (x, i) =>
      (2L * (i + 1) - n - 1) * x
    }.sum
    val g = num.toDouble / (n * s).toDouble
    assert(r.getLong(0) == n && r.getLong(1) == s)
    assert(math.abs(r.getDouble(2) - g) < 1e-6, s"gini ${r.getDouble(2)} vs $g")
    assert(g >= 0 && g < 1)
  }

  test("checkpoint restart resumes state: phase 2 ingests only new files") {
    val base = java.nio.file.Files.createTempDirectory("restart_spec").toString
    val dataDir = s"$base/data"; val cp = s"$base/cp"
    val root = s"$base/state"
    val ev = Stream.normalizeTs(
      spark.read.parquet(s"${TestSession.sf}/events.parquet"))
    val total = ev.count()
    ev.filter(col("event_id") % 2 === 0).repartition(2).write.parquet(dataDir)
    val r1 = Stream.runCheckpointed(spark, dataDir, cp, root)
    ev.filter(col("event_id") % 2 === 1).repartition(2)
      .write.mode("append").parquet(dataDir)
    val r2 = Stream.runCheckpointed(spark, dataDir, cp, root)
    assert(r1 > 0 && r2 > 0 && r1 + r2 == total,
      s"phase ingests $r1 + $r2 must cover exactly the $total events")
    assert(r2 < total, "phase 2 must NOT rescan phase-1 files")
    // recovered state + new files == batch aggregate over everything
    val got = graft.io.ManifestTable.read(spark, root)
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    val want = Stream.windowedAgg(ev)
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "restarted aggregate must equal the batch aggregate")
  }

  test("mutual information is non-negative and bounded by both entropies") {
    val r = SparkEntry.queries("stats_mi")(spark, TestSession.sf).collect()(0)
    val (mi, hx, hy) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(mi >= -1e-9, s"MI must be >= 0: $mi")
    assert(mi <= math.min(hx, hy) + 1e-9, s"MI $mi exceeds min($hx, $hy)")
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1 + 1e-9)
  }

  test("cluster-size histogram accounts for every document") {
    val hist = SparkEntry.queries("dedup_cluster_stats")(spark, TestSession.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nDocs = spark.read.parquet(s"${TestSession.sf}/documents.parquet").count()
    assert(hist.map { case (sz, n) => sz * n }.sum == nDocs,
      "Σ size·count must equal the corpus size")
    assert(hist.exists(_._1 == 1), "singletons must exist on this fixture")
  }

  test("PCA projection extremes straddle zero on centered data") {
    val rows = SparkEntry.queries("emb_pca_project")(spark, TestSession.sf)
      .collect()
    assert(rows.length == 10)
    val maxSide = rows.filter(_.getString(0) == "max").map(_.getDouble(3))
    val minSide = rows.filter(_.getString(0) == "min").map(_.getDouble(3))
    assert(maxSide.min > minSide.max,
      "every top-side projection must exceed every bottom-side one")
    assert(maxSide.max > 0 && minSide.min < 0,
      "centered projections must straddle zero")
    assert(maxSide.sorted.reverse.toSeq == maxSide.toSeq, "max side ordered")
  }

  test("oversampling hits the per-stratum target exactly") {
    val rows = SparkEntry.queries("sample_oversample")(spark, TestSession.sf)
      .collect()
    val target = rows.map(_.getLong(1)).max
    for (r <- rows)
      assert(r.getLong(2) == target,
        s"${r.getString(0)}: n_out ${r.getLong(2)} must equal target $target")
    // the majority stratum replicates nothing
    val maj = rows.maxBy(_.getLong(1))
    assert(maj.getLong(2) == maj.getLong(1))
  }

  test("dynamic partition overwrite leaves sibling partitions intact") {
    val rows = SparkEntry.queries("io_partition_overwrite")(spark, TestSession.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = spark.read.parquet(s"${TestSession.sf}/orders.parquet")
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((p, n) <- orig if p != "1-URGENT")
      assert(rows(p) == n, s"partition $p must be untouched")
    assert(rows("1-URGENT") < orig("1-URGENT"),
      "the overwritten partition must shrink to the filtered slice")
  }

  test("trend/seasonal strength and CCF land in their defined ranges") {
    for (r <- SparkEntry.queries("ts_strength")(spark, TestSession.sf).collect()) {
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1, s"f_trend $r")
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1, s"f_seasonal $r")
    }
    val ccf = SparkEntry.queries("ts_ccf")(spark, TestSession.sf).collect()
    assert(ccf.length == 4)
    for (r <- ccf)
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, s"|ccf| <= 1: $r")
  }

  test("k-anonymity audit matches a direct group-size recomputation") {
    val row = SparkEntry.queries("dq_kanon")(spark, TestSession.sf)
      .collect()(0)
    val cust = spark.read.parquet(s"${TestSession.sf}/customer.parquet")
      .select("c_nationkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => ((r.getInt(0), r.getString(1)),
        math.floor(r.getDouble(2) / 1000.0).toLong))
    val byQi = cust.groupBy(_._1)
    assert(row.getLong(0) == byQi.values.map(_.length).min, "k_anonymity")
    assert(row.getLong(1) == byQi.size, "qi_groups")
    assert(row.getLong(2) == byQi.values.count(_.length < 5), "groups_below_5")
    assert(row.getLong(4) == byQi.values.map(_.map(_._2).distinct.length).min,
      "l_diversity")
  }

  // ---- Invariant gates for the replay-oracle graph families: the
  // unrolled-recurrence oracles replay the engine's own recurrence, so
  // a shared misreading would pass both sides. Each invariant below is
  // a property of the DEFINITION (mass conservation, normalization,
  // label closure, degeneracy), giving those families an independent
  // tripwire.

  test("ScaleGate invariants pass at spec scale (where the hash oracle cross-validates them)") {
    // the sf1 stand-in gate for the two oracle-intractable queries;
    // running it here, at the scale where the DuckDB oracle ALSO
    // covers both queries, keeps the replay logic itself honest
    val report = ScaleGate.check(spark, TestSession.sf)
    assert(report.contains("\"pass\":true"), report)
  }

  test("pagerank invariant: dangling redistribution conserves total rank mass") {
    val rows = SparkEntry.queries("graph_pagerank_dangling")(
      spark, TestSession.sf).collect()
    val n = rows.length.toDouble
    val total = rows.map(_.getDouble(1)).sum
    // exact recurrence keeps sum == N; per-node 6-dp rounding admits
    // at most N * 5e-7 drift
    assert(math.abs(total - n) <= n * 1e-6 + 1e-6,
      s"rank mass $total must equal node count $n")
  }

  test("HITS invariant: max-normalized scores peak at exactly 1 on each side") {
    val rows = SparkEntry.queries("graph_hits")(spark, TestSession.sf).collect()
    val auth = rows.map(_.getDouble(1)); val hub = rows.map(_.getDouble(2))
    assert(auth.forall(a => a >= 0.0 && a <= 1.0), "authority out of [0,1]")
    assert(hub.forall(h => h >= 0.0 && h <= 1.0), "hub out of [0,1]")
    assert(auth.max == 1.0, s"max authority ${auth.max} != 1")
    assert(hub.max == 1.0, s"max hub ${hub.max} != 1")
  }

  test("LPA invariant: labels are node ids, one per node, with real coarsening") {
    val rows = SparkEntry.queries("graph_lpa")(spark, TestSession.sf).collect()
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids.size == rows.length, "one label row per node")
    val labels = rows.map(_.getLong(1)).toSet
    assert(labels.subsetOf(ids),
      s"labels must come from the node-id space; aliens: ${(labels -- ids).take(5)}")
    assert(labels.size < ids.size, "propagation must coarsen at least one label")
    val mod = SparkEntry.queries("graph_modularity")(spark, TestSession.sf)
      .collect()(0)
    val q = mod.getDouble(mod.length - 1)
    assert(q >= -0.5 && q <= 1.0, s"modularity $q outside [-0.5, 1]")
  }

  test("streaming near-dup: accepted corpus is pairwise clean, rejects are real dups") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text")
    val accepted = graft.streaming.Stream.foreachBatchNearDup(spark, docs,
      batch2Pred = pmod(col("doc_id"), lit(2)) === 1, threshold = 0.8,
      table = "graft_neardup_spec")
    val nAll = docs.count(); val nAcc = accepted.count()
    assert(nAcc > 0 && nAcc < nAll,
      s"expected a strict subset, got $nAcc of $nAll")
    // the accept rule guarantees NO >= 0.8 pair survives in the corpus
    val residual = graft.ext.Dedup.minhashNearDupes(
      accepted, 0.8, k = 64, bands = 16, shingle = 5).count()
    assert(residual == 0, s"$residual near-dup pairs left in accepted corpus")
    // every rejected doc really has a qualifying partner somewhere
    val rejected = docs.join(accepted.select("doc_id"), Seq("doc_id"), "left_anti")
    val allPairs = graft.ext.Dedup.minhashNearDupes(
      docs, 0.8, k = 64, bands = 16, shingle = 5)
    val paired = allPairs.select(col("id_a").as("doc_id"))
      .union(allPairs.select(col("id_b").as("doc_id"))).distinct()
    val orphans = rejected.join(paired, Seq("doc_id"), "left_anti").count()
    assert(orphans == 0, s"$orphans docs rejected without any near-dup pair")
    graft.streaming.Stream.dropNearDup(spark, "graft_neardup_spec")
  }

  test("near-dup file-source runner: resumable, equals the MemoryStream result") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft_nddir").toString
    val dataDir = s"$base/docs"; val cp = s"$base/cp"
    val table = "graft_neardup_dir"
    graft.streaming.Stream.dropNearDup(spark, table)
    // file 1 = even ids, file 2 (written later) = odd ids — the same
    // split the MemoryStream harness drives, now through the real
    // checkpointed file source, one micro-batch per file
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(dataDir)
    val r1 = graft.streaming.Stream.runNearDupDir(spark, dataDir, cp, table)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dataDir)
    val r2 = graft.streaming.Stream.runNearDupDir(spark, dataDir, cp, table)
    assert(r1 > 0 && r2 > 0 && r1 + r2 == docs.count(),
      s"two runs must ingest exactly the corpus: $r1 + $r2")
    val got = spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
    val want = graft.streaming.Stream.foreachBatchNearDup(spark, docs,
        batch2Pred = pmod(col("doc_id"), lit(2)) === 1,
        table = "graft_neardup_dir_ms")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "file-source corpus must equal the MemoryStream corpus")
    graft.streaming.Stream.dropNearDup(spark, table)
    graft.streaming.Stream.dropNearDup(spark, "graft_neardup_dir_ms")
  }

  test("near-dup batch merge: replaying a delivered batch is a no-op") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text")
    val table = "graft_neardup_replay"
    graft.streaming.Stream.dropNearDup(spark, table)
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    graft.streaming.Stream.mergeNearDupBatch(spark, table, b1)
    graft.streaming.Stream.mergeNearDupBatch(spark, table, b2)
    val once = spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
    // at-least-once delivery: the same batch arrives again — every doc
    // is either already accepted (self-pair at J=1 rejects it) or was
    // rejected before for the same reason, so the corpus is unchanged
    graft.streaming.Stream.mergeNearDupBatch(spark, table, b2)
    val twice = spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
    assert(twice == once, "replayed batch must not change the corpus")
    graft.streaming.Stream.dropNearDup(spark, table)
  }

  test("NearDupIndex.pack: probed reads open ONE root after packing, index contents identical, ingest unchanged; corpus compact invalidates the pack and sync heals") {
    import graft.streaming.{NearDupIndex, Stream}
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 240)
    val table = "graft_ndpack_spec"
    Stream.dropNearDup(spark, table)
    (0 to 2).foreach { k =>
      Stream.mergeNearDupBatch(spark, table,
        docs.filter(col("doc_id") % 4 === k))
    }
    val root = Stream.nearDupRoot(spark, table)
    assert(NearDupIndex.indexRoots(spark, root).size == 3,
      "one band dir per ingest before packing")
    def indexRows() = NearDupIndex.read(spark, root, 0 until NearDupIndex.PartBuckets)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val before = indexRows()
    assert(NearDupIndex.pack(spark, root) == 3)
    assert(NearDupIndex.indexRoots(spark, root).size == 1,
      "the probed-read open count must drop to one packed root")
    assert(indexRows() == before,
      "packing must not change a single index row")
    // crash recovery: a pack() that died between publishing its output
    // and deleting its inputs leaves an older, fully-covered pack
    // behind — plant one (valid by every marker, covering one live
    // segment) and assert sync deletes it as redundant
    val liveSegs = graft.io.ManifestTable.dataSegments(spark, root)
    val br = root + "__bands"
    val fake = s"$br/_packed-zzfake"
    spark.read.parquet(s"$br/${NearDupIndex.indexRoots(spark, root).head}")
      .limit(5).write.partitionBy("pb").parquet(fake)
    val ffs = new org.apache.hadoop.fs.Path(br)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cov = ffs.create(new org.apache.hadoop.fs.Path(fake, "_covers.graft"), true)
    cov.write((liveSegs.head + "\n").getBytes("UTF-8")); cov.close()
    ffs.create(new org.apache.hadoop.fs.Path(fake,
      s"_pb_count_${NearDupIndex.PartBuckets}"), true).close()
    assert(NearDupIndex.indexRoots(spark, root).size == 2,
      "the planted redundant pack must look valid before sync")
    NearDupIndex.sync(spark, root)
    assert(NearDupIndex.indexRoots(spark, root).size == 1 &&
      !ffs.exists(new org.apache.hadoop.fs.Path(fake)),
      "sync must delete a pack made redundant by a larger one")
    assert(indexRows() == before, "redundancy cleanup changes no rows")
    // the next ingest dedups THROUGH the pack (known dups rejected,
    // novel docs appended as a fresh per-segment dir beside it)
    val sizeBefore = spark.table(table).count()
    Stream.mergeNearDupBatch(spark, table,
      docs.filter(col("doc_id") % 4 === 0)) // full replay: all dups
    assert(spark.table(table).count() == sizeBefore,
      "replayed batch must be fully rejected through the packed index")
    Stream.mergeNearDupBatch(spark, table,
      docs.filter(col("doc_id") % 4 === 3))
    val roots2 = NearDupIndex.indexRoots(spark, root)
    assert(roots2.size == 2 && roots2.exists(_.startsWith("_packed-")),
      s"novel ingest lands beside the pack: $roots2")
    // a corpus rewrite retires covered segments -> the pack is invalid;
    // sync deletes it and rebuilds per-segment dirs for the new layout
    val expect = indexRows()
    graft.io.ManifestTable.compact(spark, root)
    NearDupIndex.sync(spark, root)
    val roots3 = NearDupIndex.indexRoots(spark, root)
    assert(roots3.size == 1 && !roots3.head.startsWith("_packed-"),
      s"post-compact the index is rebuilt per segment: $roots3")
    assert(indexRows() == expect,
      "rebuilt index must equal the pre-compact banding (pure derivation)")
    Stream.dropNearDup(spark, table)
  }

  test("AnnIndex.optimize: bin-packs small segments keeping the cell layout; probe results unchanged") {
    import graft.streaming.AnnIndex
    import spark.implicits._
    val table = "graft_annopt_spec"
    AnnIndex.drop(spark, table)
    val cents = Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    def vec(x: Double, y: Double) = Array(x, y)
    (0 to 3).foreach { k =>
      val rows = (0 until 8).map { i =>
        val id = k * 8L + i
        if (i % 2 == 0) (id, vec(1.0, 0.1 * (i + k))) else (id, vec(0.1 * (i + k), 1.0))
      }
      AnnIndex.ingest(spark, table, rows.toDF("vec_id", "embedding"),
        cents, batchId = k.toLong)
    }
    val root = AnnIndex.annRoot(spark, table)
    assert(graft.io.ManifestTable.dataSegments(spark, root).size == 4)
    val q = Seq((100L, vec(0.9, 0.2))).toDF("vec_id", "embedding")
    def top() = AnnIndex.topK(spark, table, q, k = 5, cents = cents,
        nprobe = 1)
      .select("query_id", "rank", "nbr_id", "cosine")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue,
        r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    val before = top()
    assert(AnnIndex.optimize(spark, table, smallBytes = 1L << 30) == 4,
      "all four toy segments are below the threshold")
    assert(graft.io.ManifestTable.dataSegments(spark, root).size == 1,
      "probe file-opens drop to one segment's probed cell dirs")
    assert(top() == before, "packing must be result-invisible to probes")
    AnnIndex.drop(spark, table)
  }

  test("runNearDupDir compaction policy caps the segment log without changing the corpus") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 200)
    val base = java.nio.file.Files.createTempDirectory("graft_ndcap").toString
    // four files written sequentially -> four deterministic micro-batches
    (0 to 3).foreach { k =>
      docs.filter(col("doc_id") % 4 === k).coalesce(1)
        .write.mode("append").parquet(s"$base/docs")
      Thread.sleep(5) // distinct mtimes pin the file-source batch order
    }
    def run(table: String, maxSegments: Int): Seq[Long] = {
      graft.streaming.Stream.dropNearDup(spark, table)
      graft.streaming.Stream.runNearDupDir(spark, s"$base/docs",
        s"$base/cp_$table", table, maxSegments = maxSegments)
      spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
    }
    val capped = run("graft_ndcap_on", maxSegments = 1)
    val free = run("graft_ndcap_off", maxSegments = 128)
    assert(capped == free, "compaction must not change the accepted corpus")
    val segsOn = graft.io.ManifestTable.segments(spark,
      graft.streaming.Stream.nearDupRoot(spark, "graft_ndcap_on")).size
    val segsOff = graft.io.ManifestTable.segments(spark,
      graft.streaming.Stream.nearDupRoot(spark, "graft_ndcap_off")).size
    assert(segsOn <= 2, s"cap=1 must keep the log folded, got $segsOn segments")
    assert(segsOff >= 3, s"expected one segment per novel-bearing ingest, got $segsOff")
    graft.streaming.Stream.dropNearDup(spark, "graft_ndcap_on")
    graft.streaming.Stream.dropNearDup(spark, "graft_ndcap_off")
  }

  test("near-dup corpus commits O(batch) bytes: prior segments immutable, compact folds") {
    import org.apache.hadoop.fs.Path
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text")
    val table = "graft_neardup_appendio"
    graft.streaming.Stream.dropNearDup(spark, table)
    val root = graft.streaming.Stream.nearDupRoot(spark, table)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, Long] = {
      val it = fs.listFiles(new Path(root), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.toString -> st.getLen }
      b.result()
    }
    graft.streaming.Stream.mergeNearDupBatch(spark, table,
      docs.filter(col("doc_id") % 2 === 0))
    val after1 = dataFiles()
    val corpus1 = spark.table(table).count()
    graft.streaming.Stream.mergeNearDupBatch(spark, table,
      docs.filter(col("doc_id") % 2 === 1))
    val after2 = dataFiles()
    // the IO contract: batch 2 never rewrites batch 1's segment — every
    // committed file is still there, byte-for-byte the same length
    after1.foreach { case (p, len) =>
      assert(after2.get(p).contains(len), s"segment file rewritten: $p") }
    // and the bytes batch 2 DID write hold exactly its novel rows, not
    // a copy of the corpus: the new files form one segment whose row
    // count is the corpus delta (O(batch), not O(corpus))
    val segs = graft.io.ManifestTable.segments(spark, root)
    assert(segs.size == 2, s"expected one segment per ingest, got $segs")
    val novel2 = spark.table(table).count() - corpus1
    val seg2Rows = spark.read.parquet(s"$root/${segs.last}").count()
    assert(seg2Rows == novel2,
      s"batch-2 segment must hold only novel rows: $seg2Rows vs $novel2")
    // compact = the explicit full rewrite: content identical, 1 segment
    val before = spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
    graft.io.ManifestTable.compact(spark, root)
    assert(graft.io.ManifestTable.segments(spark, root).size == 1)
    val after = graft.io.ManifestTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "compact must preserve the corpus exactly")
    graft.streaming.Stream.dropNearDup(spark, table)
  }

  test("near-dup index pb-count change self-heals: a stale-count segment index is rebuilt, not mis-pruned") {
    // The hazard: the reader prunes the banded index with pb values
    // computed at the CURRENT PartBuckets; a segment dir written by a
    // deployment with a DIFFERENT count would silently miss most
    // collisions (false accepts). sync() must detect the recorded
    // count and rebuild. Simulate the old deployment by rewriting the
    // segment's index partitioned at pb count 8 with its marker.
    import org.apache.hadoop.fs.Path
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") % 7 === 0)
    val table = "graft_neardup_pbevolve"
    graft.streaming.Stream.dropNearDup(spark, table)
    graft.streaming.Stream.mergeNearDupBatch(spark, table, docs)
    val root = graft.streaming.Stream.nearDupRoot(spark, table)
    val corpus1 = spark.table(table).count()
    val seg = graft.io.ManifestTable.segments(spark, root).head
    val segDir = s"${root}__bands/$seg"
    val fs = new Path(segDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(segDir), true)
    val oldCount = 8
    graft.streaming.NearDupIndex.withPb(graft.ext.Dedup.bandedFromSig(
        spark.read.parquet(s"$root/$seg")
          .select(col("doc_id").as("id"), col("sig"))))
      .withColumn("pb", pmod(xxhash64(col("band"), col("bucket")),
        lit(oldCount)).cast("int"))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(segDir)
    fs.create(new Path(segDir, s"_pb_count_$oldCount"), true).close()
    // replay the SAME docs: every one self-pairs at J=1 against the
    // corpus, so idempotence demands zero accepts — which only holds
    // if candidate pruning still finds the collisions after the heal
    // (unhealed, the count mismatch drops ~7/8 of candidates and the
    // replay falsely re-ingests)
    graft.streaming.Stream.mergeNearDupBatch(spark, table, docs)
    assert(spark.table(table).count() == corpus1,
      "replay against a healed index must accept nothing")
    assert(fs.exists(new Path(segDir,
        s"_pb_count_${graft.streaming.NearDupIndex.PartBuckets}")),
      "sync must restamp the segment at the current pb count")
    assert(!fs.exists(new Path(segDir, s"_pb_count_$oldCount")),
      "the stale-count marker must not survive the rebuild")
    graft.streaming.Stream.dropNearDup(spark, table)
  }

  test("streaming ANN index: split-invariant vs batch IVF, replay-guarded, partition-pruned reads, compaction-stable") {
    import graft.streaming.AnnIndex
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
    val cents = Similarity.firstNCentroids(emb, 16)
    val queries = emb.filter(col("vec_id") < 8)
    // ground truth: the batch pruned-probe IVF over the same corpus
    // and frozen quantizer (assignment is per-row -> batching is
    // invisible by construction; this pins it)
    val expected = Similarity.ivfTopK(emb, queries, 10, ncells = 16, nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    val t1 = "graft_ann_spec_one"; val t3 = "graft_ann_spec_three"
    AnnIndex.drop(spark, t1); AnnIndex.drop(spark, t3)
    AnnIndex.ingest(spark, t1, emb, cents, 0L)
    (0 until 3).foreach { i =>
      AnnIndex.ingest(spark, t3,
        emb.filter(pmod(col("vec_id"), lit(3)) === i), cents, i.toLong)
    }
    def res(t: String) = AnnIndex.topK(spark, t, queries, 10, cents, nprobe = 4)
      .orderBy("query_id", "rank")
    assert(res(t1).collect().toSeq.map(_.toSeq) == expected,
      "single-batch index must equal batch ivfTopK")
    assert(res(t3).collect().toSeq.map(_.toSeq) == expected,
      "three-batch index must equal batch ivfTopK (split invariance)")
    // at-least-once replay: a re-delivered batch id is detected from
    // the manifest alone and appends NOTHING
    val root3 = AnnIndex.annRoot(spark, t3)
    val segsBefore = graft.io.ManifestTable.segments(spark, root3)
    AnnIndex.ingest(spark, t3,
      emb.filter(pmod(col("vec_id"), lit(3)) === 1), cents, 1L)
    assert(graft.io.ManifestTable.segments(spark, root3) == segsBefore,
      "replayed batch must not commit a second segment")
    // partition pruning is PHYSICAL (bytes read, not plan text): a
    // 1-query / nprobe-2 search reads only its probed cell= dirs, so
    // its input bytes must be a small fraction of an exhaustive
    // (nprobe = ncells) search over the same index
    // query as an IN-MEMORY frame so the measured jobs' only file
    // input is the index itself (a parquet-sourced query side would
    // add a constant embeddings scan to both sides of the ratio)
    val q1 = {
      import spark.implicits._
      emb.filter(col("vec_id") === 0)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
        .toDF("vec_id", "embedding")
    }
    val probed = Similarity.probeCells(q1, cents, 2)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    val allCells = segsBefore.flatMap { seg =>
      val d = new java.io.File(new java.net.URI(s"$root3/$seg").getPath)
      Option(d.listFiles).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(_.getName.stripPrefix("cell=").toLong)
    }.toSet
    assert(probed.size < allCells.size,
      s"fixture regressed: probes ${probed.size} of ${allCells.size} cells — pruning unexercised")
    class Agg extends org.apache.spark.scheduler.SparkListener {
      @volatile var read = 0L
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(s.stageInfo.taskMetrics).foreach(
          m => read += m.inputMetrics.bytesRead)
    }
    def bytesOf(body: => Unit): Long = {
      val agg = new Agg
      spark.sparkContext.addSparkListener(agg)
      try {
        body
        org.apache.spark.GraftBenchInternals
          .drainListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(agg)
      agg.read
    }
    val prunedBytes = bytesOf {
      AnnIndex.topK(spark, t3, q1, 10, cents, nprobe = 2).collect(): Unit
    }
    val fullBytes = bytesOf {
      AnnIndex.topK(spark, t3, q1, 10, cents, nprobe = 16).collect(): Unit
    }
    info(f"probe-2 read $prunedBytes%d B vs probe-16 $fullBytes%d B over ${allCells.size} cells")
    assert(prunedBytes * 3 <= fullBytes,
      s"probed read $prunedBytes B vs exhaustive $fullBytes B — partition pruning not engaged")
    // compaction folds to one segment, keeps the cell= layout, and
    // changes nothing the query can see
    AnnIndex.compact(spark, t3)
    val segsAfter = graft.io.ManifestTable.segments(spark, root3)
    assert(segsAfter.size == 1, "compact must fold to one segment")
    val cellDirs = {
      val d = new java.io.File(new java.net.URI(s"$root3/${segsAfter.head}").getPath)
      Option(d.listFiles).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("cell="))
    }
    assert(cellDirs > 0, "compacted segment must keep the cell= partition layout")
    assert(res(t3).collect().toSeq.map(_.toSeq) == expected,
      "compaction must not change query results")
    AnnIndex.drop(spark, t1); AnnIndex.drop(spark, t3)
  }

  test("streaming SemDeDup: single-batch equals batch rule, corpus pairwise clean, every reject justified, replay-guarded") {
    import graft.streaming.AnnIndex
    import graft.ext.{Dedup, Similarity}
    val emb = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
    val cents = Similarity.firstNCentroids(emb, 16)
    val tau = 0.42
    // 1. one batch == the batch semanticDedup kept set (the streaming
    // rule degenerates to the batch removal rule when nothing
    // precedes it)
    val t1 = "graft_semdedup_spec_one"
    AnnIndex.drop(spark, t1)
    AnnIndex.semanticIngest(spark, t1, emb, cents, tau, 0L)
    val streamed1 = AnnIndex.semanticCorpus(spark, t1)
      .select("id").collect().map(_.getLong(0)).toSet
    val batchKept = Dedup.semanticDedup(emb, ncells = 16, threshold = tau,
        centroids = Some(cents))
      .filter(col("kept")).select("id").collect().map(_.getLong(0)).toSet
    assert(streamed1 == batchKept,
      "single-batch streaming corpus must equal the batch kept set")
    // 2+3 on a two-batch run: accepted corpus has no same-cell pair at
    // cosine >= tau, and every rejected id has a justifying partner —
    // same cell, cosine >= tau, lower id in its own batch or accepted
    // in an earlier one
    val t2 = "graft_semdedup_spec_two"
    AnnIndex.drop(spark, t2)
    AnnIndex.semanticIngest(spark, t2,
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), cents, tau, 0L)
    AnnIndex.semanticIngest(spark, t2,
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), cents, tau, 1L)
    val corpus = AnnIndex.semanticCorpus(spark, t2)
    val assigned = Similarity.assignCellsVec(emb, cents)
    val cos = round(graft.functions.fx.vecDot(col("a.v"), col("b.v")), 6)
    val accAssigned = assigned.join(corpus.select("id"), Seq("id"))
    val dirty = accAssigned.as("a")
      .join(accAssigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(cos >= tau).count()
    assert(dirty == 0L, s"accepted corpus has $dirty same-cell pairs >= $tau")
    val rejected = assigned.join(corpus.select("id"), Seq("id"), "left_anti")
      .withColumn("batch", pmod(col("id"), lit(2)))
    val aSide = assigned.withColumn("batch", pmod(col("id"), lit(2)))
      .join(corpus.select(col("id"), lit(true).as("acc")), Seq("id"), "left")
      .withColumn("acc", coalesce(col("acc"), lit(false)))
    val justified = rejected.as("b")
      .join(aSide.as("a"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .filter(cos >= tau)
      .filter( // lower id in the same batch, or accepted earlier
        (col("a.batch") === col("b.batch") && col("a.id") < col("b.id")) ||
        (col("a.batch") < col("b.batch") && col("a.acc")))
      .select(col("b.id")).distinct().count()
    val nRejected = rejected.count()
    assert(justified == nRejected,
      s"only $justified of $nRejected rejects have a justifying partner")
    assert(nRejected > 0, "fixture regressed: nothing rejected — dedup unexercised")
    // 4. at-least-once replay: a re-delivered batch id commits nothing
    val root = AnnIndex.annRoot(spark, t2)
    val before = graft.io.ManifestTable.segments(spark, root)
    val n = AnnIndex.semanticIngest(spark, t2,
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), cents, tau, 1L)
    assert(n == 0L && graft.io.ManifestTable.segments(spark, root) == before,
      "replayed batch must be a manifest name-scan skip")
    AnnIndex.drop(spark, t1); AnnIndex.drop(spark, t2)
  }

  test("ANN tombstone delete: O(ids) write leaves data segments byte-identical; compact applies physically") {
    import graft.streaming.AnnIndex
    import graft.ext.Similarity
    import graft.io.ManifestTable
    val emb = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
    val cents = Similarity.firstNCentroids(emb, 16)
    val table = "graft_ann_del_spec"
    AnnIndex.drop(spark, table)
    (0 until 2).foreach { i =>
      AnnIndex.ingest(spark, table,
        emb.filter(pmod(col("vec_id"), lit(2)) === i), cents, i.toLong)
    }
    val root = AnnIndex.annRoot(spark, table)
    def dataFiles(): Map[String, (Long, Long)] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles).getOrElse(Array.empty).toSeq
          .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      ManifestTable.dataSegments(spark, root).flatMap { seg =>
        walk(new java.io.File(new java.net.URI(s"$root/$seg").getPath))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified()))
      }.toMap
    }
    val before = dataFiles()
    val delIds = emb.filter(pmod(col("vec_id"), lit(3)) === 0).select("vec_id")
    val nDel = delIds.count()
    AnnIndex.delete(spark, table, delIds)
    assert(dataFiles() == before,
      "delete must leave every data segment file byte-identical (O(ids) tombstone append only)")
    // merge-on-read: results equal batch IVF over the surviving corpus
    // under the SAME frozen quantizer
    val queries = emb.filter(col("vec_id") < 8)
    val expected = Similarity.ivfTopK(
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0), queries,
        10, ncells = 16, nprobe = 4, centroids = Some(cents))
      .orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    def res() = AnnIndex.topK(spark, table, queries, 10, cents, nprobe = 4)
      .orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    assert(res() == expected,
      "post-delete query must equal batch IVF over the surviving corpus")
    // deleted ids must not block a re-ingest being accepted later?
    // (re-ingest semantics are append — out of scope) — but compaction
    // must apply the tombstones physically and retire them
    val total = emb.count()
    AnnIndex.compact(spark, table)
    assert(ManifestTable.deleteSegments(spark, root).isEmpty,
      "compact must retire tombstone segments")
    assert(ManifestTable.segments(spark, root).size == 1,
      "compact must fold to one data segment")
    assert(ManifestTable.read(spark, root).count() == total - nDel,
      "compacted segment must physically exclude deleted rows")
    assert(res() == expected, "compaction must not change query results")
    AnnIndex.drop(spark, table)
  }

  test("ManifestTable: losing a commit race throws, loses no committed segment, next append recovers") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_race").toString
    graft.io.ManifestTable.destroy(spark, root)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.ManifestTable.append(spark, root, (1L to 10L).toDF("v"))
    val segs1 = graft.io.ManifestTable.segments(spark, root)
    // the competitor's segment: real parquet, committed (by the
    // competitor) in the manifest planted below
    (100L to 104L).toDF("v").write.parquet(s"$root/seg-2-race")
    val competitor = (segs1 :+ "seg-2-race").mkString("\n") + "\n"
    // deterministic interleaving of the exact race window: OUR append
    // reads version 1, writes its segment, and at publish time the
    // competitor's v2 manifest lands FIRST — the no-overwrite rename
    // must make us the single loser
    graft.io.ManifestTable.commitStrategy =
      new graft.io.ManifestTable.CommitStrategy {
        def publish(f: org.apache.hadoop.fs.FileSystem, dir: Path,
            dst: Path, content: String): Unit = {
          graft.io.ManifestTable.RenameCommit.publish(f, dir, dst, competitor)
          graft.io.ManifestTable.RenameCommit.publish(f, dir, dst, content)
        }
      }
    try intercept[IllegalStateException] {
      graft.io.ManifestTable.append(spark, root, (20L to 25L).toDF("v"))
    } finally graft.io.ManifestTable.commitStrategy =
      graft.io.ManifestTable.RenameCommit
    // the winner's commit is what readers see; nothing committed is lost
    assert(graft.io.ManifestTable.segments(spark, root) ==
      segs1 :+ "seg-2-race")
    def vals() = graft.io.ManifestTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vals() == ((1L to 10L) ++ (100L to 104L)).sorted,
      "race loser must not corrupt the committed corpus")
    // the loser's segment is an on-disk orphan no manifest names
    val orphan = fs.listStatus(new Path(root))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("seg-") && n != "seg-2-race" &&
        !segs1.contains(n))
    assert(orphan.length == 1, s"expected exactly the loser's orphan: ${orphan.toSeq}")
    // a retried append (the streaming replay) proceeds at the next version
    graft.io.ManifestTable.append(spark, root, (20L to 25L).toDF("v"))
    assert(vals() == ((1L to 10L) ++ (100L to 104L) ++ (20L to 25L)).sorted)
    // compact folds the log AND collects the orphan — once it is older
    // than the unnamed-dir grace window (a FRESH unnamed dir could be a
    // concurrent appender's in-flight segment and must be spared, so
    // the spec backdates the orphan past the grace horizon first)
    fs.setTimes(new Path(root, orphan.head),
      System.currentTimeMillis() - 2 * 60 * 60 * 1000, -1)
    graft.io.ManifestTable.compact(spark, root)
    assert(graft.io.ManifestTable.segments(spark, root).size == 1)
    assert(vals() == ((1L to 10L) ++ (100L to 104L) ++ (20L to 25L)).sorted)
    val leftover = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(n => n.startsWith("seg-")).toSet
    assert(leftover == graft.io.ManifestTable.segments(spark, root).toSet,
      s"orphans must be GC'd by compact: $leftover")
    graft.io.ManifestTable.destroy(spark, root)
  }

  test("ManifestTable time travel: each version reads exactly its prefix; deletes respect the version fence") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_tt_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"))   // v1
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"))  // v2
    ManifestTable.delete(spark, root, (1L to 5L).toDF("v"))    // v3
    ManifestTable.append(spark, root, (21L to 30L).toDF("v"))  // v4
    assert(ManifestTable.versions(spark, root) == Seq(1L, 2L, 3L, 4L))
    def at(v: Long) = ManifestTable.readAt(spark, root, v)
      .collect().map(_.getLong(0)).sorted.toSeq
    def mergedAt(v: Long) = ManifestTable.readMergedAt(spark, root, v)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(at(1) == (1L to 10L))
    assert(at(2) == (1L to 20L))
    // a delete committed AFTER the pinned version must be invisible…
    assert(mergedAt(2) == (1L to 20L))
    // …and visible at its own fence
    assert(mergedAt(3) == (6L to 20L))
    assert(ManifestTable.readMerged(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq == (6L to 30L))
    intercept[IllegalArgumentException] { ManifestTable.segmentsAt(spark, root, 9L) }
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable zone maps: range reads open only intersecting segments, stay conservative without stats, prune all-null segments") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_zm_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"), statsCols = Seq("v"))
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"), statsCols = Seq("v"))
    ManifestTable.append(spark, root, (21L to 30L).toDF("v"), statsCols = Seq("v"))
    // no sidecar -> can never be skipped (conservative fallback)
    ManifestTable.append(spark, root, (31L to 40L).toDF("v"))
    // all-NULL stats column -> no non-null value can match a range
    ManifestTable.append(spark, root,
      Seq[Option[Long]](None, None, None).toDF("v"),
      statsCols = Seq("v"))
    val segs = ManifestTable.dataSegments(spark, root)
    assert(segs.size == 5)
    val kept = ManifestTable.prunedDataSegments(spark, root, "v",
      Some(12L), Some(15L))
    // exactly [11..20] plus the stats-less segment survive pruning
    assert(kept.size == 2, s"kept: $kept")
    assert(kept.contains(segs(1)) && kept.contains(segs(3)))
    val got = ManifestTable.readRange(spark, root, "v", Some(12L), Some(15L))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (12L to 15L), "skipping must be result-invisible")
    // open upper bound: only the stats-less segment (which actually
    // holds 31..40) survives — every stats-bearing segment tops out
    // below 35 and the all-null one can't match any range
    val kept2 = ManifestTable.prunedDataSegments(spark, root, "v", Some(35L), None)
    assert(kept2 == Seq(segs(3)), s"kept2: $kept2")
    // stats survive in-segment (data readers ignore the _ sidecar)
    assert(ManifestTable.read(spark, root).count() == 43)
    val st = ManifestTable.segmentStats(spark, root, segs(1)).get
    assert(st.rows == 10 && st.cols("v").min.contains("11") &&
      st.cols("v").max.contains("20"))
    ManifestTable.destroy(spark, root)
  }

  test("manifest_skipping opens exactly one of six segments for the 5-day window") {
    SparkEntry.queries("manifest_skipping")(spark, TestSession.sf).collect()
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_skip__log").toString
    assert(graft.io.ManifestTable.dataSegments(spark, root).size == 6)
    val kept = graft.io.ManifestTable.prunedDataSegments(spark, root, "ts",
      Some(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")),
      Some(java.sql.Timestamp.valueOf("2024-01-15 23:59:59.999999")))
    assert(kept.size == 1,
      s"the 5-day window must map to exactly its own segment, got $kept")
    graft.io.ManifestTable.destroy(spark, root)
  }

  test("manifest_cluster restores read locality: the 5-day window opens a minority of the six range segments") {
    SparkEntry.queries("manifest_cluster")(spark, TestSession.sf).collect()
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_clu__log").toString
    val segs = graft.io.ManifestTable.dataSegments(spark, root)
    assert(segs.size == 6)
    val kept = graft.io.ManifestTable.prunedDataSegments(spark, root, "ts",
      Some(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")),
      Some(java.sql.Timestamp.valueOf("2024-01-15 23:59:59.999999")))
    assert(kept.size <= 3,
      s"a ~5.2-day range segment layout must keep the 5-day window to <=3 opens, got $kept")
    graft.io.ManifestTable.destroy(spark, root)
  }

  test("manifest schema evolution: pre-evolution segments read NULL in later-added columns") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_evo_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    ManifestTable.append(spark, root,
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "s", "extra"))
    val out = ManifestTable.read(spark, root).orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.take(2).forall(_.isNullAt(2)), "old rows surface NULL in new columns")
    assert(out.drop(2).map(_.getLong(2)).toSeq == Seq(30L, 40L))
    ManifestTable.destroy(spark, root)
  }

  test("AggView: incremental partials + mid-stream compact are indistinguishable from recomputation, and read IO is O(groups)") {
    import graft.io.{AggView, ManifestTable}
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_aggview_spec").toString
    ManifestTable.destroy(spark, root)
    val ev = spark.read.parquet(s"${TestSession.sf}/events.parquet")
      .withColumn("value_dec", col("value").cast("decimal(18,6)"))
    val spec = AggView.spec("event_type").count("cnt")
      .sum("value_dec", "s").min("value", "mn").max("value", "mx")
    AggView.ingest(spark, root, ev.filter(pmod(col("event_id"), lit(3)) === 0), spec)
    AggView.ingest(spark, root, ev.filter(pmod(col("event_id"), lit(3)) === 1), spec)
    AggView.compact(spark, root, spec)
    AggView.ingest(spark, root, ev.filter(pmod(col("event_id"), lit(3)) === 2), spec)
    // stored form after compact+1 ingest: exactly two partial segments,
    // each O(groups) rows — the view never re-reads the base table
    assert(ManifestTable.dataSegments(spark, root).size == 2)
    val nGroups = ev.select("event_type").distinct().count()
    assert(ManifestTable.read(spark, root).count() <= 2 * nGroups)
    val got = AggView.read(spark, root, spec)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getDouble(3), r.getDouble(4))).toSeq
    val want = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("value_dec").as("s"),
        min("value").as("mn"), max("value").as("mx"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString,
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == want)
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable change feed: windows carry exactly the committed delta; rewrites inside a window fail loudly") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_cf_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"))    // v1
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"))   // v2
    ManifestTable.delete(spark, root, Seq(3L, 7L).toDF("v"))    // v3
    ManifestTable.append(spark, root, (21L to 25L).toDF("v"))   // v4
    def feed(from: Long, to: Long) =
      ManifestTable.readChanges(spark, root, from, to)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // (v2, v4]: the delete keys + batch 3, nothing from before the pin
    assert(feed(2, 4) ==
      ((Seq(3L, 7L).map(_ -> "delete")) ++ (21L to 25L).map(_ -> "insert")).sorted)
    // (0, v2]: creation-to-pin bootstrap — both appends, no deletes yet
    assert(feed(0, 2) == (1L to 20L).map(_ -> "insert").sorted)
    // (v3, v3]: empty window throws (nothing committed)
    intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, root, 3, 3)
    }
    // a rewrite inside the window invalidates the feed LOUDLY
    ManifestTable.compact(spark, root)                          // v5
    val e = intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, root, 2, 5)
    }
    assert(e.getMessage.contains("full refresh"))
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable optimize: folds only sub-threshold segments, keeps big segments byte-identical, regenerates sidecars, preserves tombstones") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_opt_spec").toString
    ManifestTable.destroy(spark, root)
    // one big segment (10k rows) + four small (10 rows each), all zone-mapped
    ManifestTable.append(spark, root, (1L to 10000L).toDF("v"), statsCols = Seq("v"))
    (0 until 4).foreach { k =>
      val lo = 10001L + 10 * k
      ManifestTable.append(spark, root, (lo until lo + 10).toDF("v"),
        statsCols = Seq("v"))
    }
    ManifestTable.delete(spark, root, Seq(5L, 10015L).toDF("v"))
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigSeg = ManifestTable.segmentSizes(spark, root).maxBy(_._2)._1
    def bigFiles() = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$root/$bigSeg"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sortBy(_._1).toSeq
    val bigBefore = bigFiles()
    val threshold = ManifestTable.segmentSizes(spark, root).map(_._2).max
    val folded = ManifestTable.optimize(spark, root, threshold)
    assert(folded == 4)
    // layout: big + packed data segments, tombstone untouched
    assert(ManifestTable.dataSegments(spark, root).size == 2)
    assert(ManifestTable.deleteSegments(spark, root).size == 1)
    assert(bigFiles() == bigBefore, "the big segment must stay byte-identical")
    // results unchanged: merge-on-read still honors the tombstones
    assert(ManifestTable.readMerged(spark, root).count() == 10040 - 2)
    // packed sidecar regenerated over the union of the small inputs
    val packed = ManifestTable.dataSegments(spark, root).filterNot(_ == bigSeg).head
    val st = ManifestTable.segmentStats(spark, root, packed).get
    assert(st.rows == 40 && st.cols("v").min.contains("10001") &&
      st.cols("v").max.contains("10040"))
    // zone maps still prune: a range inside the big segment skips the packed one
    assert(ManifestTable.prunedDataSegments(spark, root, "v",
      Some(100L), Some(200L)) == Seq(bigSeg))
    // fastRowCount: tombstones block it (matches unknowable without a read)…
    assert(ManifestTable.fastRowCount(spark, root).isEmpty)
    // …compact retires them, then the metadata-only count needs stats on
    // the compacted segment — which compact doesn't write — so it stays
    // None (conservative), while a fully zone-mapped log answers exactly
    ManifestTable.compact(spark, root)
    assert(ManifestTable.fastRowCount(spark, root).isEmpty)
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 50L).toDF("v"), statsCols = Seq("v"))
    ManifestTable.append(spark, root, (51L to 60L).toDF("v"), statsCols = Seq("v"))
    assert(ManifestTable.fastRowCount(spark, root).contains(60L))
    // below-2 small segments: no-op, no new version
    val vBefore = ManifestTable.versions(spark, root).max
    assert(ManifestTable.optimize(spark, root, 1L) == 0)
    assert(ManifestTable.versions(spark, root).max == vBefore)
    ManifestTable.destroy(spark, root)
  }

  test("CreateExclusiveCommit: full table lifecycle under object-store PUT-if-absent semantics; same-version race has one winner") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.io.ManifestTable
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_putcommit").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.commitStrategy = ManifestTable.CreateExclusiveCommit
    try {
      // appends, deletes, time travel, stats and optimize all flow
      // through publish() — the whole lifecycle must work unchanged
      ManifestTable.append(spark, root, (1L to 10L).toDF("v"), statsCols = Seq("v"))
      ManifestTable.append(spark, root, (11L to 20L).toDF("v"), statsCols = Seq("v"))
      ManifestTable.delete(spark, root, Seq(4L).toDF("v"))
      assert(ManifestTable.readMerged(spark, root).count() == 19)
      assert(ManifestTable.readAt(spark, root, 1L).count() == 10)
      assert(ManifestTable.prunedDataSegments(spark, root, "v",
        Some(15L), Some(16L)).size == 1)
      // same-version race, deterministically interleaved: OUR append
      // reads v3, and at publish time the competitor's manifest for
      // the SAME next version lands first — create-exclusive must make
      // us the single loser, corpus intact
      val competitor = ManifestTable.segments(spark, root).mkString("\n") + "\n"
      ManifestTable.commitStrategy = new ManifestTable.CommitStrategy {
        def publish(f: org.apache.hadoop.fs.FileSystem, dir: Path,
            dst: Path, content: String): Unit = {
          ManifestTable.CreateExclusiveCommit.publish(f, dir, dst, competitor)
          ManifestTable.CreateExclusiveCommit.publish(f, dir, dst, content)
        }
      }
      try intercept[IllegalStateException] {
        ManifestTable.append(spark, root, (21L to 25L).toDF("v"))
      } finally ManifestTable.commitStrategy = ManifestTable.CreateExclusiveCommit
      assert(ManifestTable.readMerged(spark, root).count() == 19,
        "race loser must not corrupt the committed corpus")
      // retry proceeds at the next version
      ManifestTable.append(spark, root, (21L to 25L).toDF("v"))
      assert(ManifestTable.readMerged(spark, root).count() == 24)
    } finally ManifestTable.commitStrategy = ManifestTable.RenameCommit
    ManifestTable.destroy(spark, root)
  }

  test("Profile.expectRefs: dangling and NULL foreign keys violate; intact refs pass; schema unions with expect") {
    import spark.implicits._
    import graft.ext.Profile
    val facts = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (9L, "dangling"), (null, "nullfk"), (2L, "b2"))
      .toDF("fk", "payload")
    val dim = Seq(1L, 2L, 3L).toDF("k")
    val out = Profile.expectRefs(facts, Seq(
      ("fk_ok_subset", "fk", dim, "k"),
      ("fk_strict", "fk", dim.filter(col("k") === 1L), "k")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    // dangling 9 + NULL fk violate the intact dim; the filtered dim
    // additionally orphans both fk=2 rows
    assert(out == Seq(
      ("fk_ok_subset", 5L, 2L, false),
      ("fk_strict", 5L, 4L, false)))
    // fully intact reference: pass
    val clean = Profile.expectRefs(facts.filter(col("fk").isNotNull &&
        col("fk") =!= 9L), Seq(("fk", "fk", dim, "k"))).head()
    assert(clean.getLong(2) == 0L && clean.getBoolean(3))
    // schema matches expect(), so the two reports union
    val e = Profile.expect(facts, Seq("payload_nonempty" -> (length(col("payload")) === 0)))
    assert(e.columns.toSeq ==
      Profile.expectRefs(facts, Seq(("x", "fk", dim, "k"))).columns.toSeq)
  }

  test("runLakehouseIngest: one tagged segment per micro-batch, idempotent catch-up runs, view == batch aggregate") {
    import graft.io.{AggView, ManifestTable}
    import graft.streaming.Stream
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base = new org.apache.hadoop.fs.Path(wh, "graft_slake_base_spec").toString
    val view = new org.apache.hadoop.fs.Path(wh, "graft_slake_view_spec").toString
    ManifestTable.destroy(spark, base); ManifestTable.destroy(spark, view)
    val src = java.nio.file.Files.createTempDirectory("graft_slake_src").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_slake_cp").toString
    new java.io.File(src).delete(); new java.io.File(cp).delete()
    val ev = spark.read.parquet(s"${TestSession.sf}/events.parquet")
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("vd"))
    val spec = AggView.spec("event_type").count("cnt").sum("vd", "s")
    ev.filter(pmod(col("event_id"), lit(2)) === 0).repartition(2).write.parquet(src)
    val r1 = Stream.runLakehouseIngest(spark, src, cp, base, view, spec)
    assert(r1 == ev.filter(pmod(col("event_id"), lit(2)) === 0).count())
    // one base segment per micro-batch (2 files x maxFilesPerTrigger=1),
    // each carrying its batch tag
    val segs1 = ManifestTable.dataSegments(spark, base)
    assert(segs1.size == 2 && segs1.forall(_.contains("-mb")), segs1.toString)
    // catch-up run with nothing new: ingests 0, commits nothing
    assert(Stream.runLakehouseIngest(spark, src, cp, base, view, spec) == 0L)
    assert(ManifestTable.dataSegments(spark, base) == segs1)
    // more files land; a restarted run ingests ONLY them, view tracks
    ev.filter(pmod(col("event_id"), lit(2)) === 1).repartition(2)
      .write.mode("append").parquet(src)
    val r2 = Stream.runLakehouseIngest(spark, src, cp, base, view, spec)
    assert(r2 == ev.filter(pmod(col("event_id"), lit(2)) === 1).count())
    val got = AggView.read(spark, view, spec).orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq
    val want = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("vd").as("s"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq
    assert(got == want)
    ManifestTable.destroy(spark, base); ManifestTable.destroy(spark, view)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(src))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(cp))
  }

  test("change feed walks THROUGH marked rewrites for caught-up consumers; behind or mid-window-folded consumers fail loudly") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_cfrw_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"))    // v1
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"))   // v2
    // caught-up consumer at v2: the optimize (folds v1+v2) is invisible
    val sizes = ManifestTable.segmentSizes(spark, root).map(_._2)
    assert(ManifestTable.optimize(spark, root, sizes.max + 1) == 2) // v3
    assert(ManifestTable.changedSegments(spark, root, 2L, 3L).isEmpty,
      "maintenance of consumed segments must be feed-invisible")
    ManifestTable.append(spark, root, (21L to 25L).toDF("v"))   // v4
    assert(ManifestTable.readChanges(spark, root, 2L, 4L)
      .collect().map(_.getLong(0)).sorted.toSeq == (21L to 25L),
      "the feed must deliver exactly the post-rewrite appends")
    // back-to-back rewrites: compact (v5) drops optimize's own output —
    // still invisible to a consumer caught up past everything folded
    ManifestTable.compact(spark, root)                          // v5
    assert(ManifestTable.changedSegments(spark, root, 4L, 5L).isEmpty)
    // BEHIND consumer: v3 folded seg v2 a consumer at v1 never read
    val e1 = intercept[IllegalArgumentException] {
      ManifestTable.changedSegments(spark, root, 1L, 3L)
    }
    assert(e1.getMessage.contains("never read"))
    // mid-window fold: consumer at v2 never read seg v4, and v5's
    // compact folded it away — the feed cannot reconstruct it
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.changedSegments(spark, root, 2L, 5L)
    }
    assert(e2.getMessage.contains("never read"))
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest streaming sink: one tagged segment per micro-batch through the real engine; restart ingests only unseen files; zone maps per batch") {
    import spark.implicits._
    import graft.io.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("graft_sinkspec").toString
    val src = s"$base/src"; val cp = s"$base/cp"
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_sink_spec").toString
    ManifestTable.destroy(spark, root)
    (1L to 50L).toDF("v").coalesce(1).write.parquet(src)
    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("graft.manifest")
        .option("path", root).option("statsCols", "v")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val segs1 = ManifestTable.segments(spark, root)
    assert(segs1.size == 1 && segs1.head.contains("-mb0-"),
      s"one batch-tagged segment per micro-batch: $segs1")
    assert(ManifestTable.fastRowCount(spark, root).contains(50L),
      "statsCols option must produce sidecars (metadata-only count works)")
    // new file lands; the RESTARTED query (same checkpoint) commits
    // only the unseen batch as mb1
    (51L to 80L).toDF("v").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val segs2 = ManifestTable.segments(spark, root)
    assert(segs2.size == 2 && segs2.last.contains("-mb1-"), segs2.toString)
    assert(ManifestTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 80L))
    // per-batch zone maps prune range reads to the intersecting segment
    assert(ManifestTable.prunedDataSegments(spark, root, "v",
      Some(60L), Some(70L)) == Seq(segs2.last))
    // non-append output modes refuse loudly
    val e = intercept[Exception] {
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        .groupBy("v").count()
        .writeStream.format("graft.manifest")
        .option("path", root).option("checkpointLocation", s"$base/cp2")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    assert(e.getMessage.toLowerCase.contains("append"))
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest sink autoCompactSegments: segment count stays bounded across micro-batches, contents stable, feed walks through") {
    import spark.implicits._
    import graft.io.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("graft_acspec").toString
    val src = s"$base/src"; val cp = s"$base/cp"
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_ac_spec").toString
    ManifestTable.destroy(spark, root)
    // 8 files = 8 micro-batches at maxFilesPerTrigger=1
    (1 to 8).foreach { k =>
      Seq(k.toLong).toDF("v").coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.format("graft.manifest")
      .option("path", root).option("autoCompactSegments", 3)
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the policy fired: without it 8 batches = 8 segments; the bound
    // holds (compact folds BEFORE each append, so ≤ 3 ever accumulate)
    val segs = ManifestTable.dataSegments(spark, root)
    assert(segs.size <= 3, s"auto-compact must bound segment count: $segs")
    val hist = ManifestTable.history(spark, root)
    assert(hist.exists(_.kind == "rewrite"),
      "the policy's compact commits must be rewrite-marked")
    // contents byte-stable across the policy firing
    assert(ManifestTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 8L))
    // a caught-up change-feed consumer walks THROUGH the policy's
    // rewrites: pin the cursor just before the last rewrite commit
    val lastRewrite = hist.filter(_.kind == "rewrite").map(_.version).max
    val head = ManifestTable.versions(spark, root).max
    if (lastRewrite - 1 >= ManifestTable.versions(spark, root).min &&
        lastRewrite < head) {
      val adds = ManifestTable.changedSegments(spark, root, lastRewrite - 1, head)
      assert(adds.forall(s => !s.startsWith("del-")), adds.toString)
    }
    // the mb tag of the FINAL batch survives (it is the replay guard
    // for the one batch whose offset may not be durable yet)
    assert(ManifestTable.segments(spark, root).exists(_.contains("-mb7-")),
      ManifestTable.segments(spark, root).toString)
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable expireVersions: log retention bounds time travel loudly, current reads unaffected") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_exp_spec").toString
    ManifestTable.destroy(spark, root)
    (1 to 4).foreach { k =>
      ManifestTable.append(spark, root, Seq(k.toLong).toDF("v"))
    }
    assert(ManifestTable.expireVersions(spark, root, keepLast = 2) == Seq(1L, 2L))
    assert(ManifestTable.versions(spark, root) == Seq(3L, 4L))
    // current read: all four segments still live (data untouched)
    assert(ManifestTable.read(spark, root).count() == 4)
    // inside the horizon: fine; past it: loud
    assert(ManifestTable.readAt(spark, root, 3L).count() == 3)
    intercept[IllegalArgumentException] { ManifestTable.readAt(spark, root, 2L) }
    assert(ManifestTable.readChanges(spark, root, 3L, 4L).count() == 1)
    intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, root, 1L, 4L)
    }
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable retention: retainVersions keeps time travel and the change feed alive through compact; vacuum expires loudly; orphans still collected") {
    import spark.implicits._
    import graft.io.ManifestTable
    import org.apache.hadoop.fs.Path
    val root = new Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_ret_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.setRetainVersions(spark, root, 3)
    assert(ManifestTable.retainVersions(spark, root) == 3)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"))   // v1
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"))  // v2
    // an orphan from a crashed append: named by NO manifest version,
    // so any-horizon GC must still collect it — once past the
    // unnamed-dir grace window (backdated here); a FRESH unnamed dir
    // is indistinguishable from a concurrent appender's in-flight
    // segment and must survive, which v3's GC also proves below
    (900L to 905L).toDF("v").write.parquet(s"$root/seg-9-orphan")
    (950L to 955L).toDF("v").write.parquet(s"$root/seg-9-inflight")
    locally {
      val fs0 = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs0.setTimes(new Path(root, "seg-9-orphan"),
        System.currentTimeMillis() - 2 * 60 * 60 * 1000, -1)
    }
    ManifestTable.compact(spark, root)                         // v3 (rewrite)
    def at(v: Long) = ManifestTable.readAt(spark, root, v)
      .collect().map(_.getLong(0)).sorted.toSeq
    // inside the retainVersions=3 horizon {v1,v2,v3}: history readable
    assert(at(1) == (1L to 10L), "retained pre-compact version must stay readable")
    assert(at(2) == (1L to 20L))
    assert(at(3) == (1L to 20L))
    // the change feed over retained windows works THROUGH the compact
    assert(ManifestTable.readChanges(spark, root, 1L, 2L)
      .collect().map(_.getLong(0)).sorted.toSeq == (11L to 20L))
    // orphan collected by the compact's GC even at horizon 3
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root, "seg-9-orphan")),
      "orphans must be collected regardless of retention horizon")
    // ...but the FRESH unnamed dir survives: it could be a concurrent
    // appender's written-but-uncommitted segment (the GC grace window)
    assert(fs.exists(new Path(root, "seg-9-inflight")),
      "a fresh unnamed dir must survive GC (in-flight concurrent append)")
    fs.delete(new Path(root, "seg-9-inflight"), true)
    // one more rewrite: v1 ages OUT of the 3-version horizon {v2,v3,v4}
    ManifestTable.append(spark, root, (21L to 25L).toDF("v"))  // v4
    ManifestTable.compact(spark, root)                         // v5 → horizon {v3,v4,v5}
    assert(at(3) == (1L to 20L), "still in horizon")
    assert(at(4) == (1L to 25L))
    intercept[Exception] { at(1).length } // segments GC'd past horizon → read fails
    // vacuum(keepLast=1): loud — reports expired versions + removed dirs
    val before = ManifestTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq
    val (expired, removed) = ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(expired.nonEmpty && expired.max < 5L)
    assert(removed.nonEmpty, "vacuum must report the dirs it physically removed")
    assert(ManifestTable.versions(spark, root) == Seq(5L))
    intercept[IllegalArgumentException] { ManifestTable.readAt(spark, root, 4L) }
    assert(ManifestTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq == before,
      "vacuum must not disturb the current state")
    ManifestTable.destroy(spark, root)
  }

  test("CreateExclusiveCommit: race loss only on create-exclusive conflict; genuine IO failures propagate; torn dst removed") {
    import org.apache.hadoop.fs.{FSDataOutputStream, Path}
    import graft.io.ManifestTable.CreateExclusiveCommit
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"), "graft_cx_spec")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(wh, true); fs.mkdirs(wh)
    val dst = new Path(wh, "_manifest.v1")
    // 1. normal publish succeeds
    CreateExclusiveCommit.publish(fs, wh, dst, "seg-1-a\n")
    // 2. a second publish of the same version = lost race (the one
    //    and only condition reported as such)
    val e = intercept[IllegalStateException] {
      CreateExclusiveCommit.publish(fs, wh, dst, "seg-1-b\n")
    }
    assert(e.getMessage.contains("lost the race"))
    // 3. a genuine IO failure (fault-injected at write time) must NOT
    //    masquerade as a race — and the torn dst must not stay visible
    //    on a create-visible store (it would wedge version resolution)
    val dst2 = new Path(wh, "_manifest.v2")
    val boom = new java.io.IOException("injected store failure")
    val failing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def create(f: Path, overwrite: Boolean): FSDataOutputStream = {
        val real = this.fs.create(f, overwrite) // create-visible: dst appears now
        new FSDataOutputStream(new java.io.OutputStream {
          def write(b: Int): Unit = throw boom
          override def write(b: Array[Byte], off: Int, len: Int): Unit = throw boom
          override def close(): Unit = real.close()
        }, null)
      }
    }
    val got = intercept[java.io.IOException] {
      CreateExclusiveCommit.publish(failing, wh, dst2, "seg-2-a\n")
    }
    assert(got eq boom,
      "an injected IO failure must propagate unchanged, not read as a lost race")
    assert(!fs.exists(dst2),
      "a torn manifest must be removed so the version stays retryable")
    fs.delete(wh, true)
  }

  test("ManifestTable zone maps: control characters in string stats stay valid JSON; a malformed sidecar degrades to no-prune, not a wedged table") {
    import spark.implicits._
    import graft.io.ManifestTable
    import org.apache.hadoop.fs.Path
    val root = new Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_esc_spec").toString
    ManifestTable.destroy(spark, root)
    // min/max carry a newline, a tab, and a quote — the sidecar must
    // parse and prune correctly anyway
    ManifestTable.append(spark, root,
      Seq("a\nlpha", "m\"id\tdle").toDF("s"), statsCols = Seq("s"))
    ManifestTable.append(spark, root,
      Seq("zeta\r1", "zz").toDF("s"), statsCols = Seq("s"))
    val segs = ManifestTable.segments(spark, root)
    assert(ManifestTable.segmentStats(spark, root, segs.head).exists(_.rows == 2),
      "control-character stats must still parse")
    assert(ManifestTable.prunedDataSegments(spark, root, "s",
      Some("y"), Some("zzz")) == Seq(segs(1)),
      "escaped sidecars must still prune")
    assert(ManifestTable.readRange(spark, root, "s", Some("y"), Some("zzz"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("zeta\r1", "zz"))
    // corrupt one sidecar on disk: that segment degrades to
    // always-read; nothing throws anywhere on the read path. Readers
    // take stats from the manifest's embedded copy, so strip that
    // segment's #meta line first: its stats then come from the sidecar
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new Path(root, "_manifest.v" + ManifestTable.versions(spark, root).last)
    val mfIn = fs.open(mf)
    val mfLines = try scala.io.Source.fromInputStream(mfIn, "UTF-8")
      .getLines().toList finally mfIn.close()
    fs.delete(mf, false)
    val mfOut = fs.create(mf, true)
    try mfOut.write(mfLines.filterNot(_.startsWith(s"#meta ${segs.head} "))
      .mkString("", "\n", "\n").getBytes("UTF-8")) finally mfOut.close()
    val bad = new Path(new Path(root, segs.head), "_stats.graft.json")
    fs.delete(bad, false)
    val out = fs.create(bad, true)
    out.write("{not json at all".getBytes("UTF-8")); out.close()
    assert(ManifestTable.segmentStats(spark, root, segs.head).isEmpty,
      "malformed sidecar must degrade to None, not throw")
    assert(ManifestTable.prunedDataSegments(spark, root, "s",
      Some("y"), Some("zzz")).toSet == segs.toSet,
      "stat-less segment is conservatively read")
    assert(ManifestTable.readRange(spark, root, "s", Some("y"), Some("zzz"))
      .count() == 2)
    assert(ManifestTable.fastRowCount(spark, root).isEmpty,
      "fastRowCount must fall back (None) on a malformed sidecar")
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable bloom sidecars: point lookups open only admitting segments, survive optimize, degrade conservatively") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_bloom_spec").toString
    ManifestTable.destroy(spark, root)
    // arrival-ordered log: ids INTERLEAVE across segments (k, k+4, …),
    // so every segment's zone map spans the whole domain — the case
    // where range stats prune NOTHING and blooms are the only index
    (0 to 3).foreach { k =>
      ManifestTable.append(spark, root,
        (0L until 400L).filter(_ % 4 == k).map(i => (i, s"d$i")).toDF("id", "s"),
        statsCols = Seq("id"), bloomCols = Seq("id", "s"))
    }
    // zone maps: useless here (all four segments admit id=42)
    assert(ManifestTable.prunedDataSegments(spark, root, "id",
      Some(42L), Some(42L)).size == 4)
    // blooms: exactly the one holding segment (deterministic sketch)
    val segs = ManifestTable.segments(spark, root)
    assert(ManifestTable.pointSegments(spark, root, "id", 42L) == Seq(segs(2)),
      "id=42 lives in the k=2 slice only")
    assert(ManifestTable.readPoint(spark, root, "id", 42L)
      .collect().map(_.getString(1)).toSeq == Seq("d42"))
    // string keys too
    assert(ManifestTable.pointSegments(spark, root, "s", "d43") == Seq(segs(3)))
    // a missing key is excluded everywhere (no segment opened)
    assert(ManifestTable.pointSegments(spark, root, "id", 100000L).isEmpty)
    assert(ManifestTable.readPoint(spark, root, "id", 100000L).count() == 0L)
    // the SQL face consults the same sidecars for pushed equalities
    val df = spark.read.format("graft.manifest").load(root)
      .filter(col("id") === 42L)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("d42"))
    assert(graft.sources.ManifestSource.lastListedSegments == Seq(segs(2)),
      "pushed id=42 must bloom-prune three of four segments on the SQL path")
    // optimize regenerates blooms on the packed segment
    assert(ManifestTable.optimize(spark, root, smallBytes = 1L << 30) == 4)
    val packed = ManifestTable.segments(spark, root)
    assert(ManifestTable.pointSegments(spark, root, "id", 42L) == packed,
      "packed segment must carry a regenerated bloom that admits its keys")
    assert(ManifestTable.pointSegments(spark, root, "id", 100000L).isEmpty,
      "…and still excludes absent keys")
    // a segment without a sidecar is conservatively read
    ManifestTable.append(spark, root, Seq((1000L, "x")).toDF("id", "s"))
    assert(ManifestTable.pointSegments(spark, root, "id", 100000L).size == 1,
      "sidecar-less segments always admit")
    // unsupported column types refuse loudly at write time
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        Seq((1.5, 1L)).toDF("d", "id"), bloomCols = Seq("d"))
    }
    assert(e.getMessage.contains("integral/string"))
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable zone maps: string pruning follows code-point order for non-BMP values (no wrong prune)") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_cp_spec").toString
    ManifestTable.destroy(spark, root)
    // U+E000 (private use, BMP) sorts ABOVE U+10000 (supplementary) in
    // Java's UTF-16 code-unit order but BELOW it in code-point order —
    // Spark's min/max use the latter, so must the pruner.
    val bmp = "\uE000"
    val supp = new String(Character.toChars(0x10000)) // U+10000
    ManifestTable.append(spark, root, Seq(supp).toDF("s"), statsCols = Seq("s"))
    // range [supp, supp]: UTF-16 compare would call min(=supp) > hi(=supp)
    // fine but lo: leq(bound=supp, max=supp) — the failure case is a
    // range like [bmp-above-in-utf16, ...]; assert both directions:
    assert(ManifestTable.readRange(spark, root, "s", Some(supp), None).count() == 1,
      "segment holding U+10000 must not be pruned for lo=U+10000")
    // lo = U+E000: in code-point order U+E000 < U+10000, so the segment
    // intersects [U+E000, ∞) and must be read. A UTF-16 comparator
    // concludes U+E000 > U+10000 (0xE000 > 0xD800) and wrongly prunes.
    assert(ManifestTable.readRange(spark, root, "s", Some(bmp), None).count() == 1,
      "UTF-16 code-unit comparison would wrongly prune this segment")
    // and the mirrored case: hi = U+E000 with Spark-min = U+10000 —
    // code-point order says no intersection (10000 > E000): pruned.
    assert(ManifestTable.prunedDataSegments(spark, root, "s",
      None, Some(bmp)).isEmpty,
      "code-point order: [.., U+E000] does not intersect a min of U+10000")
    ManifestTable.destroy(spark, root)
  }

  test("AggView.ingest: user tags colliding with the b<digits> cursor namespace are rejected loudly") {
    import spark.implicits._
    import graft.io.AggView
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_aggview_tag_spec").toString
    graft.io.ManifestTable.destroy(spark, root)
    val spec = AggView.spec("k").count("n")
    val df = Seq((1L, "x")).toDF("k", "x")
    val e = intercept[IllegalArgumentException] {
      AggView.ingest(spark, root, df, spec, tag = Some("b7"))
    }
    assert(e.getMessage.contains("cursor"))
    // a prefixed tag is fine, and the cursor stays untouched (0)
    AggView.ingest(spark, root, df, spec, tag = Some("batch-7"))
    assert(AggView.cursorOf(spark, root) == 0L,
      "a user tag must never read back as a sync cursor")
    graft.io.ManifestTable.destroy(spark, root)
  }

  test("AggView.syncFromLog: cursor rides in segment tags — incremental, idempotent, compact-surviving; count/sum retract deletes, min/max refuse") {
    import spark.implicits._
    import graft.io.{AggView, ManifestTable}
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base = new org.apache.hadoop.fs.Path(wh, "graft_cfv_base_spec").toString
    val view = new org.apache.hadoop.fs.Path(wh, "graft_cfv_view_spec").toString
    ManifestTable.destroy(spark, base); ManifestTable.destroy(spark, view)
    val spec = AggView.spec("k").count("cnt").sum("x", "sx")
    def baseRows(rows: (String, Long)*) = rows.toSeq.toDF("k", "x")
    ManifestTable.append(spark, base, baseRows("a" -> 1L, "b" -> 2L))
    assert(AggView.syncFromLog(spark, view, base, spec) == 1L)
    ManifestTable.append(spark, base, baseRows("a" -> 10L))
    ManifestTable.append(spark, base, baseRows("b" -> 20L, "c" -> 3L))
    assert(AggView.syncFromLog(spark, view, base, spec) == 3L)
    // replayed sync: cursor == head, NO new view segment (name-scan no-op)
    val segsBefore = ManifestTable.segments(spark, view)
    assert(AggView.syncFromLog(spark, view, base, spec) == 3L)
    assert(ManifestTable.segments(spark, view) == segsBefore)
    def viewNow() = AggView.read(spark, view, spec).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viewNow() == Seq(("a", 2L, 11L), ("b", 2L, 22L), ("c", 1L, 3L)))
    // view compaction keeps the cursor: next sync is still incremental
    AggView.compact(spark, view, spec)
    assert(AggView.cursorOf(spark, view) == 3L)
    ManifestTable.append(spark, base, baseRows("c" -> 30L))
    assert(AggView.syncFromLog(spark, view, base, spec) == 4L)
    assert(viewNow() == Seq(("a", 2L, 11L), ("b", 2L, 22L), ("c", 2L, 33L)))
    // count/sum form a group: the delete's pre-image ("a": 2 rows
    // summing 11) folds in NEGATED — no rebuild, O(changed) sync
    ManifestTable.delete(spark, base, Seq("a").toDF("k"))
    assert(AggView.syncFromLog(spark, view, base, spec) == 5L)
    // the all-deleted group keeps a ZERO partial row (documented
    // divergence from SQL GROUP BY, which drops the group): exact
    // zeros, never a wrong value — and filtering cnt > 0 restores
    // recompute parity
    assert(viewNow() == Seq(("a", 0L, 0L), ("b", 2L, 22L), ("c", 2L, 33L)))
    def viewLive() = AggView.read(spark, view, spec)
      .filter(col("cnt") > 0).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viewLive() == Seq(("b", 2L, 22L), ("c", 2L, 33L)))
    // and the cursor keeps syncing incrementally afterwards
    ManifestTable.append(spark, base, baseRows("b" -> 100L))
    assert(AggView.syncFromLog(spark, view, base, spec) == 6L)
    assert(viewLive() == Seq(("b", 3L, 122L), ("c", 2L, 33L)))
    // merged-read parity under re-insertion: a tombstone hides every
    // matching row, earlier OR later-committed (the table's
    // merge-on-read rule) — delete c, re-insert c=7 (hidden by the
    // outstanding tombstone), delete c again; one retraction of the
    // pre-image alive at the cursor, the re-insert never counts
    ManifestTable.delete(spark, base, Seq("c").toDF("k"))           // v7
    ManifestTable.append(spark, base, baseRows("c" -> 7L))          // v8
    ManifestTable.delete(spark, base, Seq("c").toDF("k"))           // v9
    assert(AggView.syncFromLog(spark, view, base, spec) == 9L)
    assert(viewLive() == Seq(("b", 3L, 122L)))
    // ...which is exactly the merged-read rollup
    assert(ManifestTable.readMerged(spark, base).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sx")).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == viewLive())
    // min/max only form monoids: BOOTSTRAP through outstanding
    // tombstones is fine (no retraction, just a merged read)…
    val view2 = new org.apache.hadoop.fs.Path(wh, "graft_cfv_view2_spec").toString
    ManifestTable.destroy(spark, view2)
    val spec2 = AggView.spec("k").count("cnt").min("x", "mn")
    assert(AggView.syncFromLog(spark, view2, base, spec2) == 9L)
    assert(AggView.read(spark, view2, spec2).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("b", 3L, 2L)))
    // …but an IN-WINDOW delete refuses (retraction needs survivors),
    // and rebuild recovers
    ManifestTable.delete(spark, base, Seq("b").toDF("k"))           // v10
    val e = intercept[IllegalArgumentException] {
      AggView.syncFromLog(spark, view2, base, spec2)
    }
    assert(e.getMessage.contains("rebuild"))
    assert(AggView.rebuild(spark, view2, base, spec2) == 10L)
    assert(AggView.read(spark, view2, spec2).count() == 0L,
      "every key deleted -> empty rebuilt view")
    ManifestTable.destroy(spark, base); ManifestTable.destroy(spark, view)
    ManifestTable.destroy(spark, view2)
  }

  test("AggView hll: batched sketch partials + compact estimate EXACTLY like a one-shot sketch") {
    import graft.io.{AggView, ManifestTable}
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base = new org.apache.hadoop.fs.Path(wh, "graft_hll_base_spec").toString
    val view = new org.apache.hadoop.fs.Path(wh, "graft_hll_view_spec").toString
    ManifestTable.destroy(spark, base); ManifestTable.destroy(spark, view)
    val ev = spark.read.parquet(s"${TestSession.sf}/events.parquet")
      .select("event_id", "event_type", "user_id")
    val spec = AggView.spec("event_type").count("cnt").hll("user_id", "sk")
    (0 to 2).foreach { k =>
      AggView.ingest(spark, view, ev.filter(pmod(col("event_id"), lit(3)) === k), spec)
      if (k == 1) AggView.compact(spark, view, spec) // fold mid-stream
    }
    def est(df: org.apache.spark.sql.DataFrame) = df.orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaView = est(AggView.read(spark, view, spec)
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("e")))
    val oneShot = est(ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e")))
    assert(viaView == oneShot,
      "HLL union of batch partials must equal the one-shot sketch estimate")
    ManifestTable.destroy(spark, base); ManifestTable.destroy(spark, view)
  }

  test("ManifestTable clusterZ: zone maps prune on EITHER z-ordered column; single-column cluster only prunes its own") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_clz_spec").toString
    ManifestTable.destroy(spark, root)
    // 100x100 uniform grid, arrival order spans the whole space
    val grid = (0L until 10000L).toDF("i")
      .select((col("i") % 100).as("x"),
        floor(col("i") / 100).cast("long").as("y"))
    ManifestTable.append(spark, root, grid)
    ManifestTable.clusterZ(spark, root, "x", "y", 16, bits = 8)
    assert(ManifestTable.dataSegments(spark, root).size == 16)
    // a 10-wide strip on EACH axis keeps at most half the segments —
    // the z-rectangle property a single-column sort cannot give both
    val keptX = ManifestTable.prunedDataSegments(spark, root, "x",
      Some(10L), Some(19L))
    val keptY = ManifestTable.prunedDataSegments(spark, root, "y",
      Some(40L), Some(49L))
    assert(keptX.size <= 8, s"x-strip kept ${keptX.size} of 16")
    assert(keptY.size <= 8, s"y-strip kept ${keptY.size} of 16")
    // result-invisible
    assert(ManifestTable.readRange(spark, root, "x", Some(10L), Some(19L))
      .count() == 1000)
    assert(ManifestTable.readRange(spark, root, "y", Some(40L), Some(49L))
      .count() == 1000)
    assert(ManifestTable.read(spark, root).count() == 10000)
    // contrast: single-column cluster on x (y still zone-mapped) —
    // x-sorted segments each span (nearly) the full y range, so the
    // same y-strip prunes (almost) nothing once x is the only sort key
    ManifestTable.cluster(spark, root, "x", 16, statsCols = Seq("x", "y"))
    assert(ManifestTable.prunedDataSegments(spark, root, "y",
      Some(40L), Some(49L)).size >= 14)
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable clusterRange: only range-touched segments fold; cold segments byte-identical; feed walks through") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_clr_spec").toString
    ManifestTable.destroy(spark, root)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // COLD history: already-clustered low range, zone-mapped
    ManifestTable.append(spark, root, (1L to 500L).toDF("v"), statsCols = Seq("v"))
    // HOT tail: three interleaved arrivals spanning 1000..1600
    (0L to 2L).foreach { r =>
      ManifestTable.append(spark, root, (1000L + r to 1600L by 3).toDF("v"),
        statsCols = Seq("v"))
    }
    val cold = ManifestTable.dataSegments(spark, root).head
    def coldFiles() = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$root/$cold"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val before = coldFiles()
    // consumer caught up at the current head
    val pin = ManifestTable.versions(spark, root).max
    // cluster ONLY the hot range into 3 disjoint segments
    assert(ManifestTable.clusterRange(spark, root, "v",
      Some(1000L), Some(1700L), 3) == 3)
    assert(coldFiles() == before, "cold segments must stay byte-identical")
    val segs = ManifestTable.dataSegments(spark, root)
    assert(segs.size == 4 && segs.count(_.contains("-clr")) == 3)
    // hot tail now range-disjoint: a tail window opens 1 segment + never cold
    val kept = ManifestTable.prunedDataSegments(spark, root, "v",
      Some(1100L), Some(1150L))
    assert(kept.size == 1 && kept.head.contains("-clr"), kept.toString)
    // results unchanged
    assert(ManifestTable.read(spark, root).count() == 500 + 601)
    assert(ManifestTable.readRange(spark, root, "v", Some(1100L), Some(1150L))
      .count() == 51)
    // the marked rewrite is invisible to the caught-up feed consumer
    assert(ManifestTable.changedSegments(spark, root, pin,
      ManifestTable.versions(spark, root).max).isEmpty)
    // sub-threshold: a range touching one segment is a no-op
    assert(ManifestTable.clusterRange(spark, root, "v", Some(1L), Some(2L), 3) == 0)
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable cluster: arrival-order segments become range-disjoint; zone maps go from prune-nothing to prune-most") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_clu_spec").toString
    ManifestTable.destroy(spark, root)
    // interleaved arrival: every append spans the FULL key range, so
    // pre-cluster zone maps cannot prune anything
    (1L to 3L).foreach { r =>
      ManifestTable.append(spark, root, (r to 600L by 3).toDF("v"),
        statsCols = Seq("v"))
    }
    assert(ManifestTable.prunedDataSegments(spark, root, "v",
      Some(250L), Some(260L)).size == 3, "arrival order: nothing prunes")
    ManifestTable.delete(spark, root, Seq(255L).toDF("v"))
    ManifestTable.cluster(spark, root, "v", 6)
    val segs = ManifestTable.dataSegments(spark, root)
    assert(segs.size == 6)
    assert(ManifestTable.deleteSegments(spark, root).isEmpty,
      "a full rewrite retires tombstones")
    // commit order == range order, ranges pairwise disjoint
    val ranges = segs.map { s =>
      val cs = ManifestTable.segmentStats(spark, root, s).get.cols("v")
      (BigDecimal(cs.min.get), BigDecimal(cs.max.get))
    }
    assert(ranges == ranges.sortBy(_._1))
    assert(ranges.sliding(2).forall {
      case Seq(a, b) => a._2 < b._1
      case _ => true
    }, s"ranges overlap: $ranges")
    // the same window read now opens a small minority of segments
    val kept = ManifestTable.prunedDataSegments(spark, root, "v",
      Some(250L), Some(260L))
    assert(kept.nonEmpty && kept.size <= 2, s"kept: $kept")
    assert(ManifestTable.readRange(spark, root, "v", Some(250L), Some(260L))
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (250L to 260L).filterNot(_ == 255L))
    assert(ManifestTable.read(spark, root).count() == 599)
    assert(ManifestTable.fastRowCount(spark, root).contains(599L))
    ManifestTable.destroy(spark, root)
  }

  test("near-dup ingest shuffle is O(batch): bytes stay flat as the corpus grows") {
    // The round-11 read-side finding: the per-ingest corpus check used
    // to shuffle the WHOLE corpus's hashed-shingle arrays (and re-band
    // every stored signature) per micro-batch. With the persisted
    // banded index + candidate-pruned verify, an ingest's shuffle
    // volume is a function of the BATCH (its own sig/verify stages +
    // O(collisions) candidate rows), not of the corpus size — pinned
    // here by ingesting two same-size probe batches against a small
    // and a ~4x corpus and asserting the shuffle-read bytes don't
    // scale with the corpus.
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val table = "graft_neardup_scaleio"
    graft.streaming.Stream.dropNearDup(spark, table)
    class Agg extends org.apache.spark.scheduler.SparkListener {
      @volatile var bytes = 0L
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(s.stageInfo.taskMetrics).foreach(
          m => bytes += m.shuffleReadMetrics.totalBytesRead)
    }
    def ingest(lo: Long, hi: Long): Long = {
      val agg = new Agg
      spark.sparkContext.addSparkListener(agg)
      try {
        graft.streaming.Stream.mergeNearDupBatch(spark, table,
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi))
        org.apache.spark.GraftBenchInternals
          .drainListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(agg)
      agg.bytes
    }
    ingest(0, 100) // seed: corpus ~100 docs
    val atSmall = ingest(100, 125) // 25-doc probe vs ~100-doc corpus
    ingest(125, 250); ingest(250, 375); ingest(375, 475) // grow ~4x
    val atBig = ingest(475, 500) // same-size probe vs ~475-doc corpus
    info(f"25-doc ingest shuffle-read: ${atSmall}%d B vs ~100-doc corpus, " +
      f"${atBig}%d B vs ~475-doc corpus")
    // the corpus grew ~4.4x between probes; the old path's bytes grew
    // with it (measured: it would land ~2.3x over this bound), the
    // indexed path's stay batch-sized — 1.5x headroom + a small floor
    // absorb collision-count variance between probes without letting a
    // corpus-proportional term back in
    assert(atBig <= atSmall * 3 / 2 + (64L << 10),
      f"ingest shuffle grew with the corpus: $atSmall%d B at ~100 docs " +
        f"-> $atBig%d B at ~475 docs")
    graft.streaming.Stream.dropNearDup(spark, table)
  }

  test("empty inputs: near-dup merge, dedup pairs and pagerank degrade cleanly") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val table = "graft_neardup_empty"
    graft.streaming.Stream.dropNearDup(spark, table)
    graft.streaming.Stream.mergeNearDupBatch(spark, table, emptyDocs)
    assert(!spark.catalog.tableExists(table),
      "an empty first batch must not create the state table")
    assert(graft.ext.Dedup.minhashNearDupes(emptyDocs, 0.8).count() == 0)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ext.Graph.pageRank(emptyEdges, iterations = 2).count() == 0)
  }

  test("pretrain pipeline funnel: monotone, stage-consistent, shards bounded") {
    val rows = SparkEntry.queries("pipeline_pretrain")(spark, TestSession.sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("ingest", "quality", "langid", "dedup", "decontam", "pack"))
    // docs and tokens never increase through the funnel
    for (Array(a, b) <- rows.sliding(2).map(_.toArray)) {
      assert(b.getLong(2) <= a.getLong(2), s"docs grew: $a -> $b")
      assert(b.getLong(3) <= a.getLong(3), s"tokens grew: $a -> $b")
    }
    // the quality stage must agree with the standalone text_filter query
    val tf = SparkEntry.queries("text_filter")(spark, TestSession.sf).count()
    assert(rows(1).getLong(2) == tf,
      s"quality stage ${rows(1).getLong(2)} != text_filter $tf")
    // pack preserves the decontam survivors and stays within the
    // prefix-packing shard-count envelope
    val dec = rows(4); val pack = rows(5)
    assert(pack.getLong(2) == dec.getLong(2) && pack.getLong(3) == dec.getLong(3))
    val nShards = pack.getLong(4)
    assert(nShards >= 1 && nShards <= pack.getLong(2))
    assert(nShards <= pack.getLong(3) / 2000L + 1L,
      s"$nShards shards exceeds the prefix bound for ${pack.getLong(3)} tokens")
  }

  test("k-core invariant: the converged peel is degenerate and inside the 4-round peel") {
    val edges = SparkEntry.coOccurrenceEdges(spark, TestSession.sf)
    val converged = graft.ext.Graph.kCore(edges, k = 4, rounds = 32).collect()
    assert(converged.nonEmpty, "sf graph should retain a 4-core")
    // core_degree IS the degree within the surviving subgraph: at the
    // fixpoint every member must meet the k bound (the definition)
    for (r <- converged)
      assert(r.getLong(1) >= 4L, s"node ${r.getLong(0)} degenerate: $r")
    // peeling is monotone: the fixpoint core sits inside any bounded
    // prefix of the peel, in particular the registry's 4-round run
    val bounded = SparkEntry.queries("graph_kcore")(spark, TestSession.sf)
      .collect().map(_.getLong(0)).toSet
    val conv = converged.map(_.getLong(0)).toSet
    assert(conv.subsetOf(bounded),
      s"fixpoint core must be within the bounded peel; extras: ${(conv -- bounded).take(5)}")
  }

  test("ManifestTable retention marker: a crashed publish (tmp only) still reads as the configured horizon, never as immediate GC") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.io.ManifestTable
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_retain_tmp").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"))
    ManifestTable.setRetainVersions(spark, root, 3)
    assert(ManifestTable.retainVersions(spark, root) == 3)
    // simulate a crash between tmp-create and rename: only the tmp
    // marker exists. retainOf must honor the intended horizon instead
    // of defaulting to 1 (the MOST aggressive deletion setting).
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, "_retain.graft")
    val tmp = new Path(root, "_retain.graft.tmp-crashed1")
    val out = f.create(tmp, true)
    try out.write("5".getBytes("UTF-8")) finally out.close()
    assert(f.delete(marker, false))
    assert(ManifestTable.retainVersions(spark, root) == 5,
      "tmp marker must be honored when the published marker is absent")
    // a rewrite under the tmp-only marker keeps 5 versions of history
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"))
    ManifestTable.compact(spark, root)
    assert(ManifestTable.readAt(spark, root, 1L).count() == 10,
      "history inside the tmp horizon must survive the rewrite")
    // re-publishing overwrites atomically (no delete step) and wins
    // over any stale tmp
    ManifestTable.setRetainVersions(spark, root, 2)
    assert(ManifestTable.retainVersions(spark, root) == 2)
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable reserved tags: public writes reject mb<digits> (the streaming sink's replay namespace); other tags pass") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.io.ManifestTable
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_tagguard").toString
    ManifestTable.destroy(spark, root)
    // a user batch tagged mb3 would make the sink silently SKIP
    // micro-batch 3 on replay (data loss) -> loud reject on every
    // public write verb
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, (1L to 3L).toDF("v"), tag = Some("mb3"))
    }
    ManifestTable.append(spark, root, (1L to 3L).toDF("v"), tag = Some("batchA"))
    intercept[IllegalArgumentException] {
      ManifestTable.delete(spark, root, Seq(1L).toDF("v"), tag = Some("mb0"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.replace(spark, root, (1L to 3L).toDF("v"), tag = Some("mb12"))
    }
    intercept[IllegalArgumentException] { // the writer-side reject
      (4L to 6L).toDF("v").write.format("graft.manifest")
        .mode("append").option("tag", "mb7").save(root)
    }
    // near-misses are NOT reserved: mb without digits, digits without mb
    ManifestTable.append(spark, root, (4L to 6L).toDF("v"), tag = Some("mb"))
    ManifestTable.append(spark, root, (7L to 9L).toDF("v"), tag = Some("b3"))
    assert(ManifestTable.read(spark, root).count() == 9)
    ManifestTable.destroy(spark, root)
  }

  test("ManifestTable writes keep one segment layout: a flat/partitioned mix is refused at append and optimize") {
    import spark.implicits._
    import graft.io.ManifestTable
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val flat = new org.apache.hadoop.fs.Path(wh, "graft_manifest_layout_flat").toString
    ManifestTable.destroy(spark, flat)
    ManifestTable.append(spark, flat, Seq((1L, 0), (2L, 1)).toDF("v", "p"))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, flat, Seq((3L, 0)).toDF("v", "p"),
        partitionBy = Seq("p"))
    }
    assert(e.getMessage.contains("one layout"), e.getMessage)
    assert(ManifestTable.dataSegments(spark, flat).size == 1)
    assert(ManifestTable.read(spark, flat).agg(sum("v")).head.getLong(0) == 3L,
      "a refused append must leave the table readable")
    // the reverse: a flat segment onto a partitioned table
    val parted = new org.apache.hadoop.fs.Path(wh, "graft_manifest_layout_part").toString
    ManifestTable.destroy(spark, parted)
    ManifestTable.append(spark, parted, Seq((1L, 0), (2L, 1)).toDF("v", "p"),
      partitionBy = Seq("p"))
    ManifestTable.append(spark, parted, Seq((3L, 0)).toDF("v", "p"),
      partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, parted, Seq((4L, 1)).toDF("v", "p"))
    }
    // optimize folding only some segments must keep the layout of the rest
    val big = ManifestTable.segmentSizes(spark, parted).map(_._2).max
    ManifestTable.append(spark, parted, (10L until 5000L).map(x => (x, 0)).toDF("v", "p"),
      partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      ManifestTable.optimize(spark, parted, big + 1)
    }
    assert(ManifestTable.optimize(spark, parted, big + 1, partitionBy = Seq("p")) == 2)
    assert(ManifestTable.read(spark, parted).count() == 4993L)
    // a mixed table committed by hand (or by an older writer): readers
    // refuse it and name the repair; compact(partitionBy) rewrites it
    val mixed = new org.apache.hadoop.fs.Path(wh, "graft_manifest_layout_mixed").toString
    val donor = new org.apache.hadoop.fs.Path(wh, "graft_manifest_layout_donor").toString
    Seq(mixed, donor).foreach(ManifestTable.destroy(spark, _))
    ManifestTable.append(spark, mixed, Seq((1L, 0), (2L, 1)).toDF("v", "p"))
    ManifestTable.append(spark, donor, Seq((3L, 0), (4L, 1)).toDF("v", "p"),
      partitionBy = Seq("p"))
    def local(r: String) = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(r).toUri.getPath)
    val moved = ManifestTable.dataSegments(spark, donor).head
    java.nio.file.Files.move(local(donor).resolve(moved), local(mixed).resolve(moved))
    val donorMeta = java.nio.file.Files.readAllLines(local(donor).resolve("_manifest.v1"))
      .toArray.map(_.toString).filter(_.startsWith(s"#meta $moved "))
    assert(donorMeta.length == 1)
    java.nio.file.Files.write(local(mixed).resolve("_manifest.v2"),
      (java.nio.file.Files.readAllLines(local(mixed).resolve("_manifest.v1"))
        .toArray.map(_.toString) ++ donorMeta :+ moved).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    val refused = intercept[IllegalArgumentException](ManifestTable.read(spark, mixed))
    assert(refused.getMessage.contains("ManifestTable.compact"), refused.getMessage)
    ManifestTable.compact(spark, mixed, partitionBy = Seq("p"))
    val repaired = ManifestTable.read(spark, mixed)
    assert(repaired.agg(sum("v")).head.getLong(0) == 10L)
    assert(repaired.groupBy("p").count().collect().map(r => (r.getInt(0), r.getLong(1)))
      .sorted.toSeq == Seq((0, 2L), (1, 2L)))
    assert(ManifestTable.dataSegments(spark, mixed).size == 1)
    Seq(flat, parted, mixed, donor).foreach(ManifestTable.destroy(spark, _))
  }

  test("ALTER ADD COLUMNS and ALTER COLUMN TYPE on a hive-partitioned manifest table keep its layout") {
    import spark.implicits._
    import graft.io.ManifestTable
    import org.apache.spark.sql.types.LongType
    val root = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_alter_part").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, Seq((1, 0), (2, 1)).toDF("v", "p"),
      partitionBy = Seq("p"))
    ManifestTable.addColumns(spark, root, Seq("w" -> LongType))
    ManifestTable.alterColumnType(spark, root, "v", LongType)
    val head = ManifestTable.read(spark, root)
    assert(head.columns.toSet == Set("v", "p", "w"))
    assert(head.schema("v").dataType == LongType)
    assert(head.filter(col("w").isNull).count() == 2L)
    ManifestTable.append(spark, root, Seq((3L, 0, 7L)).toDF("v", "p", "w"),
      partitionBy = Seq("p"))
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum("v"), sum("w")).head.toSeq
    assert(sums(ManifestTable.read(spark, root)) == Seq(6L, 7L))
    assert(sums(spark.sql(s"SELECT * FROM `graft.manifest`.`$root`")) == Seq(6L, 7L),
      "the SQL face must see the evolved schema of a partitioned table")
    ManifestTable.compact(spark, root, partitionBy = Seq("p"))
    assert(sums(ManifestTable.read(spark, root)) == Seq(6L, 7L))
    ManifestTable.destroy(spark, root)
  }

  test("merge-on-read tombstones keyed on different columns fail loudly, never resurrect deleted rows") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_del_keysets").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    ManifestTable.delete(spark, root, Seq(1L).toDF("id"))
    ManifestTable.delete(spark, root, Seq((2L, 20L)).toDF("id", "v"))
    intercept[org.apache.spark.sql.AnalysisException](ManifestTable.readMerged(spark, root))
    intercept[org.apache.spark.sql.AnalysisException](ManifestTable.compact(spark, root))
    assert(ManifestTable.deleteSegments(spark, root).size == 2,
      "a refused compact must keep the tombstones")
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest relation: a partitioned segment with loose files at its root fails the build loudly, never reads partially") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.io.ManifestTable
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_mixedshape").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root,
      Seq((1L, 0), (2L, 1)).toDF("v", "p"), partitionBy = Seq("p"))
    // corrupt the segment by hand: drop a loose parquet file at the
    // segment root next to the p=0/p=1 dirs
    val seg = ManifestTable.segments(spark, root).head
    Seq(99L).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$root/.loose-tmp")
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val looseSrc = f.listStatus(new Path(root, ".loose-tmp"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head
    assert(f.rename(looseSrc.getPath, new Path(s"$root/$seg/loose.parquet")))
    f.delete(new Path(root, ".loose-tmp"), true)
    // with manifest-embedded metadata the commit's file list is the
    // source of truth: the junk file is INVISIBLE, not a wedge
    assert(spark.read.format("graft.manifest").load(root)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == 3L,
      "files the commit never named must be invisible to the relation")
    assert(ManifestTable.read(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == 3L,
      "files the commit never named must be invisible to typed reads")
    assert(Seq(0, 1).map(k => ManifestTable.readPoint(spark, root, "p", k)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)).sum == 3L,
      "files the commit never named must be invisible to point reads")
    // the same junk in a FLAT segment, where a directory read would
    // pick it up: typed reads still see only the commit's files
    val flat = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      "graft_manifest_mixedshape_flat").toString
    ManifestTable.destroy(spark, flat)
    ManifestTable.append(spark, flat, Seq(1L, 2L).toDF("v"))
    val flatSeg = ManifestTable.segments(spark, flat).head
    Seq(99L).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$flat/.loose-tmp")
    val flatLoose = f.listStatus(new Path(flat, ".loose-tmp"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head
    assert(f.rename(flatLoose.getPath, new Path(s"$flat/$flatSeg/loose.parquet")))
    assert(ManifestTable.read(spark, flat)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == 3L,
      "a junk file in a flat segment must be invisible to typed reads")
    assert(ManifestTable.readPoint(spark, flat, "v", 99L).isEmpty)
    ManifestTable.destroy(spark, flat)
    // legacy table (no #meta lines -> per-segment listing fallback):
    // the same mixed shape must fail the build loudly, never read
    // partially
    val mf = f.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("_manifest.v")).sorted.last
    val in = f.open(new Path(root, mf))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    f.delete(new Path(root, mf), false)
    val out = f.create(new Path(root, mf), true)
    try out.write(lines.filterNot(_.startsWith("#meta "))
      .mkString("\n").concat("\n").getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.manifest").load(root).count()
    }
    assert(e.getMessage.contains("loose data file"))
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest streaming source: log-to-log pipeline through the real engine; restart replays only the unseen window; rewrites walk through empty") {
    import spark.implicits._
    import graft.io.ManifestTable
    import org.apache.spark.sql.streaming.Trigger
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val up = new org.apache.hadoop.fs.Path(wh, "graft_msrc_up").toString
    val down = new org.apache.hadoop.fs.Path(wh, "graft_msrc_down").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_msrc_cp").toString
    ManifestTable.destroy(spark, up)
    ManifestTable.destroy(spark, down)
    ManifestTable.append(spark, up, (1L to 10L).toDF("v"))
    ManifestTable.append(spark, up, (11L to 20L).toDF("v"))
    def run(): Unit = {
      val q = spark.readStream.format("graft.manifest").load(up)
        .writeStream.format("graft.manifest").option("path", down)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run() // batch 1: the full bootstrap window (v0, v2]
    assert(ManifestTable.read(spark, down).count() == 20)
    // a rewrite upstream contributes an EMPTY batch (walked through);
    // a fresh append then flows alone on the next run
    ManifestTable.compact(spark, up)
    ManifestTable.append(spark, up, (21L to 25L).toDF("v"))
    run() // only the (2, 4] window: compact (empty) + 5 new rows
    val downRows = ManifestTable.read(spark, down)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(downRows == (1L to 25L), s"downstream must equal upstream, got ${downRows.take(30)}")
    // no duplicate ingestion: downstream committed at most one non-empty
    // segment per engine batch
    assert(ManifestTable.read(spark, down).count() == 25)
    // a tombstone inside the window fails a PLAIN stream loudly…
    ManifestTable.delete(spark, up, Seq(3L).toDF("v"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
    assert(err.getMessage.contains("changeFeed") ||
      Option(err.getCause).exists(_.getMessage.contains("changeFeed")))
    // …and a changeFeed stream surfaces it as a typed delete row
    val cp2 = java.nio.file.Files.createTempDirectory("graft_msrc_cp2").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q2 = spark.readStream.format("graft.manifest")
      .option("changeFeed", "true").option("startingVersion", "4")
      .load(up)
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add(
          (r.getAs[String]("_change_type"), r.getAs[Long]("v"))))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(("delete", 3L)),
      s"changeFeed from v4 must carry exactly the tombstone, got ${seen}")
    ManifestTable.destroy(spark, up)
    ManifestTable.destroy(spark, down)
  }

  test("graft.manifest changeFeed stream: tombstones keyed on different columns in one window fail as readChanges does") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_msrc_mixed_keys").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    ManifestTable.delete(spark, root, Seq(1L).toDF("id")) // v2, keyed (id)
    ManifestTable.delete(spark, root, Seq((2L, 20L)).toDF("id", "v")) // v3, keyed (id, v)
    val batchErr = intercept[org.apache.spark.sql.AnalysisException] {
      ManifestTable.readChanges(spark, root, 1L, 3L)
    }
    // the stream reads the same (1, 3] window through readChanges: an
    // additive union would NULL-pad the (id) tombstone's v and stop it
    // matching; the strict union fails the batch instead
    val cp = java.nio.file.Files.createTempDirectory("graft_msrc_mixed_cp").toString
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      spark.readStream.format("graft.manifest")
        .option("changeFeed", "true").option("startingVersion", "1").load(root)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.collect(); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start().awaitTermination()
    }
    val cause = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case a: org.apache.spark.sql.AnalysisException => a }
    // same error and parameters (the rendered plans differ in expression ids)
    assert(cause.exists(a => a.getCondition == batchErr.getCondition &&
      a.getMessageParameters == batchErr.getMessageParameters),
      s"the stream must fail with readChanges' error (${batchErr.getCondition}), got $err")
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest SQL time travel: VERSION AS OF / TIMESTAMP AS OF resolve committed snapshots; INSERT INTO commits through the log") {
    import spark.implicits._
    import graft.io.ManifestTable
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = new org.apache.hadoop.fs.Path(wh, "graft_sql_travel").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 10L).toDF("v"))
    ManifestTable.append(spark, root, (11L to 20L).toDF("v"))
    Thread.sleep(20) // commit-time resolution needs distinct mtimes
    val fence = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(20)
    ManifestTable.append(spark, root, (21L to 30L).toDF("v"))
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    assert(one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root`") == 30L)
    assert(one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root` VERSION AS OF 1") == 10L)
    assert(one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root` VERSION AS OF 2") == 20L)
    assert(one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root` TIMESTAMP AS OF '$fence'") == 20L,
      "TIMESTAMP AS OF must resolve to the newest commit at or before the cutoff")
    // a cutoff before the first commit is a loud error
    val e = intercept[Exception] {
      one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root` TIMESTAMP AS OF '2000-01-01'")
    }
    assert(e.getMessage.contains("committed at or before"))
    // INSERT INTO = one append commit; INSERT OVERWRITE = replace
    spark.sql(s"INSERT INTO `graft.manifest`.`$root` VALUES (31), (32)")
    assert(one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root`") == 32L)
    assert(ManifestTable.versions(spark, root).last == 4L,
      "each INSERT is exactly one manifest commit")
    // type coercion rides Spark's stock insert path (int -> bigint)
    spark.sql(s"INSERT INTO `graft.manifest`.`$root` SELECT CAST(33 AS INT)")
    assert(one(s"SELECT sum(v) AS c FROM `graft.manifest`.`$root`") == (1L to 33L).sum)
    spark.sql(s"INSERT OVERWRITE `graft.manifest`.`$root` VALUES (100)")
    assert(one(s"SELECT count(*) AS c FROM `graft.manifest`.`$root`") == 1L)
    // INSERT into a pinned version is rejected
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO `graft.manifest`.`$root@v2` VALUES (1)")
    }
    assert(e2.getMessage.contains("pinned version"))
    // INSERT into a hive-partitioned table is rejected at resolution
    val root2 = new org.apache.hadoop.fs.Path(wh, "graft_sql_travel_part").toString
    ManifestTable.destroy(spark, root2)
    ManifestTable.append(spark, root2,
      Seq((1L, 0), (2L, 1)).toDF("v", "p"), partitionBy = Seq("p"))
    val e3 = intercept[Exception] {
      spark.sql(s"INSERT INTO `graft.manifest`.`$root2` VALUES (3, 2)")
    }
    assert(e3.getMessage.contains("partitioned"))
    ManifestTable.destroy(spark, root)
    ManifestTable.destroy(spark, root2)
  }

  test("maintenance verbs through SQL table functions: each executes once per query execution, never at plan time") {
    import spark.implicits._
    import graft.io.ManifestTable
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = new org.apache.hadoop.fs.Path(wh, "graft_sql_maint").toString
    ManifestTable.destroy(spark, root)
    (0 until 4).foreach { k =>
      ManifestTable.append(spark, root,
        ((k * 10L) until (k * 10L + 10L)).toDF("v"), statsCols = Seq("v"))
    }
    ManifestTable.delete(spark, root, Seq(5L).toDF("v"))
    val retain = spark.sql(
      s"SELECT action, n FROM graft_manifest_set_retain('$root', 3)").head()
    assert((retain.getString(0), retain.getLong(1)) == ("set_retain", 3L))
    assert(ManifestTable.retainVersions(spark, root) == 3)
    val opt = spark.sql(
      s"SELECT n FROM graft_manifest_optimize('$root', ${Long.MaxValue})").head()
    assert(opt.getLong(0) == 4L, "optimize folds the four small data segments")
    // command semantics: the verb runs exactly once, WHEN the
    // statement is issued (spark.sql eagerly executes commands, same
    // as INSERT/CREATE); re-collecting the returned frame re-reads
    // the buffered result, never re-runs the action
    val compDf = spark.sql(s"SELECT n FROM graft_manifest_compact('$root')")
    val segsAfter = ManifestTable.segments(spark, root).size
    assert(segsAfter == 1, "compact ran once at statement issue")
    assert(compDf.head().getLong(0) == 2L,
      "compact folds packed segment + tombstone")
    val vBefore = ManifestTable.versions(spark, root).size
    compDf.collect(); compDf.collect()
    assert(ManifestTable.versions(spark, root).size == vBefore &&
      ManifestTable.segments(spark, root).size == 1,
      "re-collect must not re-run the verb")
    assert(ManifestTable.readMerged(spark, root).count() == 39L)
    val vac = spark.sql(
      s"SELECT n FROM graft_manifest_vacuum('$root', 1)").head()
    assert(vac.getLong(0) == 6L,
      "vacuum removes the 6 dirs only expired versions named")
    assert(ManifestTable.read(spark, root).count() == 39L,
      "current state survives the vacuum")
    // literal-argument contract is loud
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_manifest_vacuum('$root', 1 + 1)").collect()
    }
    ManifestTable.destroy(spark, root)
  }

  test("AnnIndex auto-maintenance cadence: optimizeEvery bounds segment count across many ingests with unchanged answers") {
    import spark.implicits._
    import graft.streaming.AnnIndex
    val table = "graft_ann_cadence"
    AnnIndex.drop(spark, table)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val maxSegs = (0 until 12).map { k =>
      val rows = Seq(
        (k * 2L, Seq(1.0, 0.01 * k)), (k * 2L + 1L, Seq(0.01 * k, 1.0)))
        .toDF("vec_id", "embedding")
      AnnIndex.ingest(spark, table, rows, cents, batchId = k,
        optimizeEvery = 4, smallBytes = Long.MaxValue)
      graft.io.ManifestTable.dataSegments(spark,
        graft.streaming.AnnIndex.annRoot(spark, table)).size
    }.max
    assert(maxSegs <= 4,
      s"cadence 4 must bound the live segment count, saw max $maxSegs")
    // contents identical to an uncompacted twin
    val topk = AnnIndex.topK(spark, table,
      Seq((99L, Seq(1.0, 0.0))).toDF("vec_id", "embedding"), k = 3, cents = cents,
      nprobe = 2)
    assert(topk.count() == 3)
    AnnIndex.drop(spark, table)
  }

  test("runNearDupDir packEvery cadence bounds the index file-open debt across many ingests without changing the corpus") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 300)
    val base = java.nio.file.Files.createTempDirectory("graft_ndpack").toString
    // six files -> six deterministic micro-batches (one band dir each
    // without cadence). Six is the smallest run that still crosses the
    // cadence threshold twice (r18: was ten files x two runs = 120 s of
    // the suite's budget; the invariants are unchanged)
    (0 to 5).foreach { k =>
      docs.filter(col("doc_id") % 6 === k).coalesce(1)
        .write.mode("append").parquet(s"$base/docs")
      Thread.sleep(5)
    }
    def run(table: String, packEvery: Int): Seq[Long] = {
      graft.streaming.Stream.dropNearDup(spark, table)
      graft.streaming.Stream.runNearDupDir(spark, s"$base/docs",
        s"$base/cp_$table", table, packEvery = packEvery)
      spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
    }
    val packed = run("graft_ndpack_on", packEvery = 2)
    val free = run("graft_ndpack_off", packEvery = 0)
    assert(packed == free,
      "index packing cadence must not change the accepted corpus")
    import graft.streaming.{NearDupIndex, Stream}
    val rootsOn = NearDupIndex.indexRoots(spark,
      Stream.nearDupRoot(spark, "graft_ndpack_on")).size
    val rootsOff = NearDupIndex.indexRoots(spark,
      Stream.nearDupRoot(spark, "graft_ndpack_off")).size
    // cadence 2: after every ingest the open debt is <= 2 (pack fires
    // the moment the threshold is reached); the uncadenced twin keeps
    // one band dir per novel-bearing ingest
    assert(rootsOn <= 2,
      s"packEvery=2 must keep indexRoots bounded, got $rootsOn")
    assert(rootsOff >= 5,
      s"expected ~one band dir per ingest without cadence, got $rootsOff")
    graft.streaming.Stream.dropNearDup(spark, "graft_ndpack_on")
    graft.streaming.Stream.dropNearDup(spark, "graft_ndpack_off")
  }
}
