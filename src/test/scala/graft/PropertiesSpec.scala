package graft

import graft.operators.IndexFamily
import graft.operators.IndexFamily.{Fleet, Tenant}
import graft.functions.Exprs
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests (SURVEY §5.3) — ScalaCheck-generated inputs,
  * expression-level invariants, one DataFrame pass per property.
  */
class PropertiesSpec extends SparkSuite {
  import spark.implicits._

  test("property: stars ∈ [0,5] for any rating in [0,100] or null") {
    val ratings = Gen.listOfN(200, Gen.option(Gen.choose(0, 100))).sample.get
    val got = ratings.toDF("r").select(Exprs.stars($"r").as("s")).as[Long].collect()
    assert(got.forall(s => s >= 0 && s <= 5))
    // inverse stays within the rating domain
    val inv = ratings.toDF("r")
      .select(Exprs.ratingFromStars(Exprs.stars($"r")).as("r2")).as[Long].collect()
    assert(inv.forall(r => r >= 0 && r <= 100))
  }

  test("property: shingle count == max(1, n_tokens - k + 1)") {
    // no suchThat: a filtered Gen can make sample return None (flaky)
    val texts = Gen.listOfN(100, Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(5)))
        .map(_.mkString(" ")))).sample.get
    val got = texts.toDF("t")
      .select(size(Exprs.tokens($"t")).as("n"), size(Exprs.shingles(Exprs.tokens($"t"), 3)).as("sh"))
      .as[(Int, Int)].collect()
    got.foreach { case (n, sh) => assert(sh == math.max(1, n - 2), s"n=$n sh=$sh") }
  }

  test("property: tokens, word shingles and chunk arrays never hold a null element") {
    // the explode_outer + isNotNull rewrites (TextAnalysis.vocabulary and
    // the d10/d12/d14/d15 generators) equal a plain explode row for row
    // ONLY while no generated array holds a null element
    val word = Gen.oneOf(Gen.alphaLowerStr.map(_.take(6)), Gen.numStr.map(_.take(3)),
      Gen.oneOf("é", "日本語", "--", "'", ".", "null", ""))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \r\n ", "")
    val texts = Gen.listOfN(200, Gen.option(Gen.choose(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.zip(sep, word)).map(_.map { case (s, w) => s + w }.mkString))))
      .sample.get
    val df = texts.toDF("t").select($"t", Exprs.tokens($"t").as("toks"))
    val arrays = Seq("tokens" -> $"toks") ++
      Seq(1, 3, 8).map(k => s"word_shingles k=$k" ->
        graft.plans.ShinglesExpr.wordShingles($"t", k)) ++
      Seq(1, 4).map(k => s"chunks k=$k" -> graft.operators.Dedup.tokenChunks("toks", k))
    arrays.foreach { case (name, a) =>
      assert(df.filter(exists(a, _.isNull)).count() == 0, s"$name holds a null element")
      assert(df.select(explode(a).as("x")).count() ==
        df.select(explode_outer(a).as("x")).filter($"x".isNotNull).count(),
        s"$name: explode_outer + isNotNull != explode")
    }
  }

  test("property: quality is 0 or within [1,5], gate respected") {
    val buckets = Gen.listOfN(150, Gen.listOfN(6, Gen.choose(0L, 50L))).sample.get
    val got = buckets.map { case List(s0, s1, s2, s3, s4, s5) =>
      Seq((s0, s1, s2, s3, s4, s5)).toDF("s0", "s1", "s2", "s3", "s4", "s5")
        .select(Exprs.quality($"s0", $"s1", $"s2", $"s3", $"s4", $"s5").as("q"))
        .as[Double].collect().head -> (s0, s1 + s2 + s3 + s4 + s5)
    }
    got.foreach { case (q, (s0, rated)) =>
      if (rated + s0 == 0 || rated.toDouble / (rated + s0) <= 0.2) assert(q == 0.0)
      else assert(q >= 1.0 && q <= 5.0, s"q=$q")
    }
  }

  test("property: sanitize emits only [A-Za-z0-9-_.] or _NONE_") {
    val strs = Gen.listOfN(200, Gen.asciiPrintableStr.map(_.take(20))).sample.get
    val got = strs.toDF("s").select(Exprs.sanitizeFilename($"s").as("f")).as[String].collect()
    assert(got.forall(f => f == "_NONE_" || f.matches("[A-Za-z0-9\\-_.]*")))
  }

  test("property: dot product native == builtin fold on random vectors") {
    val vecs = Gen.listOfN(60,
      Gen.listOfN(16, Gen.choose(-5.0, 5.0))).sample.get
    val df = vecs.grouped(2).collect { case List(a, b) => (a, b) }.toSeq.toDF("a", "b")
    val builtin = aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val native = graft.plans.VectorExprs.dotProductNative($"a", $"b")
    assert(df.filter(not(builtin === native)).count() == 0)
  }

  test("property: hot-block salt is output-invariant on random duplicated corpora") {
    // random corpora with heavy duplication (every blocked self-join's
    // adversarial shape): the salted path must return EXACTLY the pure
    // path's pairs at any threshold, for both the minhash and simhash
    // families
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nTemplates = 1 + rng.nextInt(3)
      val templates = (0 until nTemplates).map(t =>
        (1 to 12 + rng.nextInt(20)).map(i => s"w${t}_$i").mkString(" "))
      val docs = (0L until (20L + rng.nextInt(20))).map(i =>
        (i, templates(rng.nextInt(nTemplates)), "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      def pairs(hot: Long) =
        graft.operators.Dedup.minhashLshPairsOf(docs, hotBlockRows = hot)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pure = pairs(Long.MaxValue)
      assert(pairs(3L) == pure, s"trial $trial: minhash salted != pure")
      assert(pure.nonEmpty)
      val sigs = graft.operators.Dedup.simhash64Builtin(spark,
        { val d = java.nio.file.Files.createTempDirectory(s"graft_prop$trial").toString
          docs.coalesce(1).write.parquet(s"$d/documents.parquet"); d })
      def shPairs(hot: Long) =
        graft.operators.Dedup.simhashPairsOf(sigs, hotBlockRows = hot)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(shPairs(3L) == shPairs(Long.MaxValue), s"trial $trial: simhash salted != pure")
    }
  }

  test("property: the LSH tier run over an md5 slice == the full tier's pairs inside the slice") {
    // random near-duplicate corpora (templates with a few words swapped):
    // a sampled audit computes the tier over its slice alone, which must
    // emit exactly the full tier's pairs with both endpoints in the slice
    val rng = new scala.util.Random(11)
    var nPairs = 0
    for (trial <- 1 to 2) {
      val templates = (0 until 4).map(t => (1 to 20).map(i => s"w${t}_$i").toArray)
      val docs = (0L until 60L).map { i =>
        val words = templates(rng.nextInt(templates.size)).clone()
        (0 until rng.nextInt(3)).foreach(_ => words(rng.nextInt(words.length)) = s"x${rng.nextInt(9)}")
        (i, words.mkString(" "), "en", "s", 1L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"graft_slice$trial").toString
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      for (sb <- Seq(64, 128, 256)) {
        def in(c: String) = graft.operators.TextAnalysis.splitBucket(col(c)) < sb
        val full = rows(graft.operators.Dedup.minhashLshPairs(spark, dir)
          .filter(in("id_a") && in("id_b")))
        assert(rows(graft.operators.Dedup.slicedLshPairs(spark, dir, sb)) == full,
          s"trial $trial, $sb buckets: sliced tier != full tier inside the slice")
        nPairs += full.size
      }
    }
    assert(nPairs > 0, "no pair inside any slice: the property went vacuous")
  }

  test("property: one-pass tenant census == the two-branch count on random exact/approx frames") {
    // the former formula: n_exact and n_caught from two grouped branches
    // (the exact side, and its semi-join to approx) joined onto the spine
    def twoBranch(nTenants: Int, exact: org.apache.spark.sql.DataFrame,
        approx: org.apache.spark.sql.DataFrame) = {
      val caught = exact.join(approx, Seq("id_a", "id_b"), "left_semi")
      (0L until nTenants.toLong).toDF("tenant")
        .join(exact.groupBy("tenant").agg(count(lit(1)).as("n_exact")), Seq("tenant"), "left_outer")
        .join(caught.groupBy("tenant").agg(count(lit(1)).as("n_caught")), Seq("tenant"), "left_outer")
        .select(col("tenant"), coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_caught"), lit(0L)).as("n_caught"),
          when(coalesce(col("n_exact"), lit(0L)) === 0, lit(1.0))
            .otherwise(round(coalesce(col("n_caught"), lit(0L)).cast("double") /
              col("n_exact"), 4)).as("recall"))
        .orderBy("tenant")
    }
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      val nTenants = 2 + rng.nextInt(3)
      // tenant nTenants - 1 never gets an exact pair; trial 1 has none at all
      val nExact = if (trial == 1) 0 else 10 + rng.nextInt(30)
      val exactRows = Seq.fill(nExact)((rng.nextInt(nTenants - 1).toLong,
        rng.nextInt(12).toLong, 12L + rng.nextInt(12)))
      // approx: a random subset of the exact pairs (some twice) plus misses
      val approxRows = exactRows.filter(_ => rng.nextBoolean()).flatMap(r =>
        Seq.fill(1 + rng.nextInt(2))((r._2, r._3))) ++
        Seq.fill(5)((100L + rng.nextInt(5), 200L + rng.nextInt(5)))
      val exact = exactRows.toDF("tenant", "id_a", "id_b")
      val approx = approxRows.toDF("id_a", "id_b")
      val got = graft.operators.Dedup.tenantRecallRows(spark, nTenants, exact, approx)
        .collect().map(_.toSeq).toSeq
      val want = twoBranch(nTenants, exact, approx).collect().map(_.toSeq).toSeq
      assert(got == want, s"trial $trial: one-pass $got != two-branch $want")
      assert(got.length == nTenants && got.last(1) == 0L && got.last(3) == 1.0)
    }
  }

  test("property: model-independent k-means assignment == the literal-inlined form") {
    import graft.functions.Exprs.dotProduct
    // the former form: one inlined literal array and one inlined ‖c‖²
    // constant per centroid
    def inlined(model: Array[(Int, Array[Double])]) = {
      val scores = array(model.map { case (_, c) =>
        val c2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
        lit(2.0) * dotProduct(col("v"), array(c.toIndexedSeq.map(lit): _*)) - lit(c2)
      }.toIndexedSeq: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    val rng = new scala.util.Random(17)
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    for (trial <- 1 to 5) {
      val dim = 4 + rng.nextInt(13)
      val k = 2 + rng.nextInt(5)
      val cents = Array.fill(k)(Array.fill(dim)(r4(rng.nextGaussian())))
      // a duplicated centroid makes exact score ties (first one wins)
      cents(k - 1) = cents(0)
      val model = cents.zipWithIndex.map { case (c, i) => i -> c }
      val vecs = (0 until 200).map(i => (i.toLong, Array.fill(dim)(rng.nextGaussian() * 2)))
        .toDF("vec_id", "v")
      val bad = vecs.withColumn("got", graft.operators.Similarity.assignExpr(model))
        .withColumn("want", inlined(model))
        .filter(not(col("got") <=> col("want")))
      assert(bad.count() == 0, s"trial $trial: ${bad.take(3).mkString("; ")}")
    }
  }

  test("property: countedCheckpoint counts exactly, in one job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      val rng = new scala.util.Random(19)
      for (trial <- 1 to 4) {
        val n = if (trial == 1) 0 else rng.nextInt(500)
        // shuffle-free, so the plan's own work is one job (under AQE a
        // shuffle adds a map-stage job to any action)
        val df = spark.range(0, n, 1, 3).toDF().filter(col("id") % 3 =!= 1)
        val group = s"counted-$trial"
        sc.setJobGroup(group, group)
        val (cp, got) = try graft.operators.Dedup.countedCheckpoint(df)
          finally sc.clearJobGroup()
        assert(got == df.count(), s"trial $trial")
        assert(cp.collect().length == got, s"trial $trial: checkpoint rows")
        // the listener bus is asynchronous: wait for the first job, then
        // give a second job time to show up
        val deadline = System.currentTimeMillis() + 10000
        while (!jobs.contains(group) && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        Thread.sleep(300)
        val nJobs = jobs.toArray.count(_ == group)
        assert(nJobs == 1, s"trial $trial: $nJobs jobs to count the checkpoint")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("property: spacesaving overestimate/containment on random skewed streams") {
    // random streams over a small alphabet with random capacities: every
    // kept item overestimates by at most n/cap, and every item with true
    // count > 2n/cap is kept — across partition counts (merge trees)
    val streams = Gen.listOfN(5, Gen.listOfN(600,
      Gen.frequency((8, Gen.choose(0, 3)), (2, Gen.choose(4, 40))).map(i => s"k$i"))).sample.get
    streams.zipWithIndex.foreach { case (items, ix) =>
      val cap = 4 + ix * 3
      val n = items.size.toLong
      val truth = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val sk = items.toDF("tk").repartition(1 + ix * 2)
        .agg(graft.plans.SpaceSavingAgg.spaceSavingTopK($"tk", cap).as("sk"))
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sk.size <= cap)
      sk.foreach { case (k, est) =>
        val t = truth.getOrElse(k, 0L)
        assert(est >= t && est <= t + n / cap, s"cap=$cap $k est=$est true=$t")
      }
      truth.filter { case (_, t) => t * cap > 2 * n }.keys.foreach { k =>
        assert(sk.contains(k), s"cap=$cap heavy $k missing")
      }
    }
  }

  test("property: bloom decontamination == exact tier on random corpora at every sketch size") {
    // random corpora with planted cross-split gram overlap: the bloom
    // pre-filter must never change the answer — not at a comfortable
    // sketch size, not at a starved one (all-FP regime), not with an
    // empty eval split
    val rng = new scala.util.Random(11)
    // split membership is the md5 bucket of the id (train < 250, eval
    // >= 253 — ~1% of ids), so ids are PICKED per split rather than
    // sampled: a random 30-doc id range usually has an empty eval split
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket256(id: Long): Int = {
      val h = md5hex(id.toString)
      def hv(c: Char): Int = if (c >= 'a') c - 87 else c - '0'
      hv(h.charAt(0)) * 16 + hv(h.charAt(1))
    }
    val trainIds = (1L to 5000L).filter(id => bucket256(id) < 250)
    val evalIds = (1L to 5000L).filter(id => bucket256(id) >= 253)
    for (trial <- 1 to 3) {
      val vocab = (0 until 6 + rng.nextInt(6)).map(v => s"v${trial}_$v")
      def text() = (0 until 8 + rng.nextInt(18))
        .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
      // a shared phrase plants genuine cross-split 8-gram overlap (random
      // token sequences essentially never repeat an exact 8-run); some
      // train docs embed it whole, one only partially
      val phrase = (0 until 10 + rng.nextInt(6)).map(_ =>
        vocab(rng.nextInt(vocab.length))).mkString(" ")
      val tIds = trainIds.drop(trial * 40).take(30 + rng.nextInt(20))
      val eIds = evalIds.drop(trial * 4).take(3 + rng.nextInt(3))
      val docs = (
        tIds.drop(3).map(i => (i, text())) ++
        Seq((tIds(0), phrase),
          (tIds(1), phrase + " " + text()),
          (tIds(2), phrase.split(" ").take(9).mkString(" ") + " " + text())) ++
        Seq((eIds.head, phrase)) ++ eIds.tail.map(i => (i, text()))
      ).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val exact = rows(graft.operators.Dedup.crossSplitContaminationOf(docs))
      for (bits <- Seq(64L, 1L << 12, 1L << 23))
        assert(rows(graft.operators.Dedup.crossSplitContaminationBloomOf(
          docs, numBits = bits)) == exact, s"trial $trial bits=$bits")
      // small shared vocab ⇒ overlap is near-certain; require the hit
      // path genuinely exercised in at least one configuration
      assert(exact.nonEmpty, s"trial $trial planted no overlap")
    }
  }

  test("property: chunked sessionize == sessionize on random event streams at random chunk sizes") {
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val base = 1704067200000000L
      val rows = (0 until 200 + rng.nextInt(200)).map { i =>
        val user = 1L + rng.nextInt(5)
        // mixed cadences: some gaps inside the session gap, some far over
        val ts = base + rng.nextInt(96) * 1800L * 1000000 + rng.nextInt(1000000)
        (1000L + i, ts, user, 0.25 * (i % 7))
      }
      val root = java.nio.file.Files.createTempDirectory(s"graft_sess$trial").toString
      rows.toDF("event_id", "ts", "user_id", "value")
        .withColumn("ts", timestamp_micros(col("ts")))
        .withColumn("event_type", lit("click"))
        .withColumn("props", lit("{}"))
        .coalesce(1).write.parquet(s"$root/events.parquet.dir")
      // events.parquet must be a file path for Tables.read
      val part = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$root/events.parquet.dir")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$root/events.parquet"))
      def sess(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      val w7 = sess(graft.operators.Library.sessionize(spark, root))
      val chunk = Seq(600L, 3600L, 7200L)(rng.nextInt(3)) * 1000000
      assert(sess(graft.operators.Library.chunkedSessionize(spark, root,
        chunkUs = chunk)) == w7, s"trial $trial chunkUs=$chunk")
      assert(w7.nonEmpty)
    }
  }

  test("property: similarity-join blocking is exact on random strings with planted edits") {
    // random base strings over a tiny alphabet plus EXPLICIT edited
    // variants (substitutions at random positions for the hamming tier;
    // substitutions, insertions and deletions for the edit tier) — the
    // planted pairs stress segment boundaries and shift windows, and the
    // brute-force replay is the ground truth the blocks must reproduce
    val rng = new scala.util.Random(19)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (trial <- 1 to 3) {
      val alpha = "abcd"
      def str(n: Int) = (0 until n).map(_ => alpha(rng.nextInt(4))).mkString
      val bases = (0 until 12).map(_ => str(5 + rng.nextInt(12)))
      def edit(s: String): String = {
        val sb = new StringBuilder(s)
        (0 until 1 + rng.nextInt(2)).foreach { _ =>
          rng.nextInt(3) match {
            case 0 if sb.nonEmpty => sb.setCharAt(rng.nextInt(sb.length), alpha(rng.nextInt(4)))
            case 1 => sb.insert(rng.nextInt(sb.length + 1), alpha(rng.nextInt(4)))
            case _ if sb.length > 1 => sb.deleteCharAt(rng.nextInt(sb.length))
            case _ => ()
          }
        }
        sb.toString
      }
      val all = (bases ++ bases.map(edit) ++ (0 until 8).map(_ => str(5 + rng.nextInt(12))))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = all.toDF("key", "name")
      // hamming tier
      val gotH = graft.operators.Library.hammingJoinOf(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      val expH = (for {
        (ka, na) <- all; (kb, nb) <- all
        if ka < kb && na.length == nb.length
        h = na.zip(nb).count { case (x, y) => x != y }
        if h <= 2
      } yield (ka, kb, h.toLong)).toSet
      assert(gotH == expH, s"trial $trial hamming")
      // edit tier
      val gotE = graft.operators.Library.editDistanceJoinOf(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      val expE = (for {
        (ka, na) <- all; (kb, nb) <- all
        if ka < kb && math.abs(na.length - nb.length) <= 2
        d = lev(na, nb)
        if d <= 2
      } yield (ka, kb, d.toLong)).toSet
      assert(gotE == expE, s"trial $trial edit")
      assert(expE.nonEmpty && expE.exists(_._3 > 0), s"trial $trial planted nothing")
    }
  }

  test("property: edit-distance blocking stays exact on strings of length <= maxDist") {
    // the round-10 latent miss: with maxDist 2, ("ab","xy") is distance 2
    // but both 1-char segments carry an edit — the pair meets ONLY on the
    // empty seg0, so the slen==0 candidate blocks must exist. Deliberate
    // short-string soup including "" and every length up to 5.
    val rng = new scala.util.Random(23)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val alpha = "xyz"
    val fixed = Seq("", "a", "b", "ab", "xy", "ax", "ba", "abc", "xyz")
    val rand = (0 until 20).map(_ =>
      (0 until rng.nextInt(6)).map(_ => alpha(rng.nextInt(3))).mkString)
    val all = (fixed ++ rand).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = all.toDF("key", "name")
    val got = graft.operators.Library.editDistanceJoinOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val exp = (for {
      (ka, na) <- all; (kb, nb) <- all
      if ka < kb
      d = lev(na, nb)
      if d <= 2
    } yield (ka, kb, d.toLong)).toSet
    assert(got == exp,
      s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
    assert(exp.exists(_._3 == 2) && exp.exists(_._3 == 0))
  }

  test("property: id census n_live counts distinct NON-null keys; n_refs counts rows on removed ids") {
    // countDistinct drops a NULL key that distinct().count() would count:
    // the census's non-null-key precondition, stated on random frames
    // that break it
    val rows = Gen.listOfN(80, Gen.option(Gen.choose(1L, 25L))).sample.get :+ None
    val removedIds = Gen.listOfN(6, Gen.choose(1L, 30L)).sample.get
    val df = rows.toDF("doc_id")
    val got = graft.operators.Dedup.idCensusRow("s", df, "doc_id", removedIds.toDF("doc_id"))
      .collect().head
    val live = rows.flatten.distinct.size.toLong
    assert(got.getAs[Long]("n_live") == live)
    assert(df.distinct().count() == live + 1, "the frame must carry a NULL key")
    assert(got.getAs[Long]("n_refs") == rows.flatten.count(removedIds.toSet).toLong)
  }

  test("property: label retraction == full recompute over corpus minus removed") {
    // random near-dup corpora (clusters of edited copies + noise docs),
    // random takedown sets — removeFromLabelState must equal
    // labelStateOf(docs ∖ removed) exactly, splits and relabels included
    val rng = new scala.util.Random(31)
    def noise(id: Long) = (1 to 40).map(j =>
      s"p${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    for (trial <- 1 to 3) {
      val nClusters = 2 + rng.nextInt(3)
      val docs = scala.collection.mutable.Buffer.empty[(Long, String)]
      var nextId = 1L
      for (c <- 0 until nClusters) {
        val baseTokens = (1 to 60).map(i => s"c${c}t$i")
        val base = baseTokens.mkString(" ")
        val members = 2 + rng.nextInt(4)
        for (m <- 0 until members) {
          // member m edits ONE distinct token pair — chain-shaped overlap
          val t = if (m == 0) base
            else base.replace(s"c${c}t${m * 7} c${c}t${m * 7 + 1}", s"E$m F$m")
          docs += ((nextId, t)); nextId += 1
        }
      }
      for (_ <- 0 until 3 + rng.nextInt(3)) { docs += ((nextId, noise(nextId))); nextId += 1 }
      val df = docs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val removedIds = docs.map(_._1).filter(_ => rng.nextInt(3) == 0).toSeq
      val removed = removedIds.toDF("doc_id")
      val full = graft.operators.Dedup.labelStateOf(df)
      val relabeled = graft.operators.Dedup.removeFromLabelState(full, df, removed)
      // assemble the post-retraction state exactly as applyLabelRetraction
      // would: full ∖ removed ∖ relabeled-ids ∪ relabeled
      def m(st: org.apache.spark.sql.DataFrame) =
        st.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
      val rl = m(relabeled)
      val after = (m(full) -- removedIds -- rl.keys) ++ rl
      val expected = m(graft.operators.Dedup.labelStateOf(
        df.filter(!col("doc_id").isin(removedIds: _*))))
      assert(after == expected,
        s"trial $trial removed=$removedIds diff=${(after.toSet diff expected.toSet).take(5)}")
    }
  }

  test("property: index retraction == delta pairs over corpus minus removed (random takedowns)") {
    // random near-dup corpora; random subsets removed from the SAVED
    // index (alternating tombstone-only and tombstone+compact); the
    // delta join against the loaded index must equal the join against a
    // fresh index built over base ∖ removed
    val rng = new scala.util.Random(41)
    def noise(id: Long) = (1 to 40).map(j =>
      s"q${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    val ops = graft.operators.Dedup
    for (trial <- 1 to 2) {
      val baseTokens = (1 to 60).map(i => s"r${trial}k$i")
      val base = baseTokens.mkString(" ")
      val members = (0 until 4).map { m =>
        (10L + m, if (m == 0) base
          else base.replace(s"r${trial}k${m * 9} r${trial}k${m * 9 + 1}", s"X$m Y$m"))
      }
      val others = (0 until 5).map(i => (30L + i, noise(100L * trial + i)))
      val corpus = (members ++ others).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val shard = Seq((90L, base.replace(s"r${trial}k30", "EDITED")))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val name = s"prix$trial"
      Seq("_banded", "_shingles", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $name$s"))
      ops.saveNearDupIndex(ops.buildNearDupIndex(corpus), name, buckets = 2)
      val removedIds = (members ++ others).map(_._1).filter(_ => rng.nextInt(3) == 0)
      if (removedIds.nonEmpty) {
        IndexFamily.remove(spark, IndexFamily.NearDup, name, removedIds.toDF("doc_id"))
        if (trial % 2 == 0) IndexFamily.compact(spark, IndexFamily.NearDup, name, Fleet)
      }
      try {
        def pairs(idx: ops.NearDupIndex) =
          ops.deltaNearDups(shard, idx).select("id_a", "id_b", "jaccard")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val got = pairs(IndexFamily.load(spark, IndexFamily.NearDup, name, Fleet))
        val expected = pairs(ops.buildNearDupIndex(
          corpus.filter(!col("doc_id").isin(removedIds: _*))))
        assert(got == expected, s"trial $trial removed=$removedIds")
      } finally Seq("_banded", "_shingles", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $name$s"))
    }
  }

  test("property: HLL cell merge == one-shot sketch under random partitionings") {
    val rng = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 500 + rng.nextInt(2000)
      val users = (0 until n).map(_ => s"u${rng.nextInt(700)}")
      val parts = 2 + rng.nextInt(9)
      val rows = users.map(u => (rng.nextInt(parts), u)).toDF("p", "u")
      val whole = rows.agg(graft.plans.HllAgg.hllSketch($"u"))
        .collect().head.getAs[Array[Byte]](0)
      val merged = rows.groupBy($"p").agg(graft.plans.HllAgg.hllSketch($"u").as("sk"))
        .agg(graft.plans.HllAgg.hllMerge($"sk"))
        .collect().head.getLong(0)
      assert(merged == graft.plans.HllAgg.estimate(whole),
        s"trial $trial parts=$parts")
    }
  }

  test("property: packing placements are a partition of the token stream (random corpora)") {
    // random doc sets (sparse ids, random token counts) at small seqLens:
    // the placement invariants a loader depends on, independent of the
    // oracle's prefix-sum formulation
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 4) {
      val seqLen = Seq(8, 16, 32, 64)(trial - 1)
      val nDocs = 20 + rnd.nextInt(60)
      val ids = scala.collection.mutable.SortedSet.empty[Long]
      while (ids.size < nDocs) ids += rnd.nextInt(10000).toLong
      val docs = ids.toSeq.map(i =>
        (i, (1 to (1 + rnd.nextInt(3 * seqLen))).map(j => s"t${i}_$j").mkString(" "),
          "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val root = java.nio.file.Files.createTempDirectory(s"pack_prop$trial").toString
      docs.coalesce(1).write.parquet(s"$root/out")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/out"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$root/documents.parquet"))
      val placed = graft.operators.TextAnalysis
        .packSequences(spark, root, seqLen = seqLen, chunkDocs = 7)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // 1. contiguity: each doc starts exactly where the previous ended
      var cursor = 0L
      placed.foreach { case (id, n, first, last, off) =>
        assert(first * seqLen + off == cursor, s"doc $id not contiguous")
        assert(off >= 0 && off < seqLen, s"doc $id offset $off out of range")
        assert(last == (cursor + n - 1) / seqLen, s"doc $id wrong last seq")
        cursor += n
      }
      // 2. the manifest slices PARTITION each document's tokens exactly
      val manifest = graft.operators.TextAnalysis
        .packSequencesManifest(spark, root, seqLen = seqLen, chunkDocs = 7)
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val byDoc = manifest.groupBy(_._1)
      val nTok = placed.map(p => p._1 -> p._2).toMap
      byDoc.foreach { case (id, slices) =>
        val sorted = slices.sortBy(_._3)
        assert(sorted.head._3 == 0 && sorted.last._4 == nTok(id),
          s"doc $id slices don't span the doc")
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._4 == b._3, s"doc $id slice gap")
          case _ => ()
        }
        // slice lengths never exceed a sequence and positions stay in range
        sorted.foreach { case (_, _, f, u, pos) =>
          assert(u > f && u - f <= seqLen && pos >= 0 && pos < seqLen)
        }
      }
      // 3. every sequence's slices tile it without overlap (full seqs
      // exactly seqLen; the last may be partial)
      val bySeq = manifest.groupBy(_._2)
      val lastSeq = bySeq.keys.max
      bySeq.foreach { case (seq, slices) =>
        val spans = slices.map(s => (s._5, s._5 + (s._4 - s._3))).sortBy(_._1)
        assert(spans.head._1 == 0, s"seq $seq doesn't start at 0")
        spans.sliding(2).foreach {
          case Array(a, b) => assert(a._2 == b._1, s"seq $seq tile gap/overlap")
          case _ => ()
        }
        if (seq < lastSeq) assert(spans.last._2 == seqLen, s"seq $seq not full")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("property: chunkOffsetsOf equals the flat exclusive window (chunkDocs=2, many superchunks)") {
    import spark.implicits._
    // the promised value-level identity for the recursed t23 stitch: the
    // superchunk decomposition must be BIT-IDENTICAL to one flat ordered
    // window, on a fixture with far more chunks than chunkDocs so the
    // multi-superchunk stitch (not the trivial sup=0 path) is exercised
    val rnd = new scala.util.Random(20260815)
    for (trial <- 1 to 3) {
      val nChunks = 11 + rnd.nextInt(40)
      val totals = (0 until nChunks)
        .filter(_ => rnd.nextInt(5) > 0) // gaps: chunk ids need not be dense
        .map(c => (c.toLong, 1L + rnd.nextInt(1000).toLong))
        .toDF("chunk", "ctot")
      val got = graft.operators.TextAnalysis.chunkOffsetsOf(totals, 2L)
        .orderBy("chunk").collect().map(r => (r.getLong(0), r.getLong(1)))
      val flat = org.apache.spark.sql.expressions.Window.orderBy(col("chunk"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val want = totals
        .withColumn("off", coalesce(sum(col("ctot")).over(flat), lit(0L)))
        .orderBy("chunk").select("chunk", "off")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == want.toSeq, s"trial $trial: stitch != flat window")
    }
  }

  test("property: mixture sample is the budget-respecting md5-order prefix per group (random corpora)") {
    val ta = graft.operators.TextAnalysis
    val rnd = new scala.util.Random(20260815)
    for (trial <- 1 to 4) {
      val langs = Seq("aa", "bb", "cc")
      val nDocs = 30 + rnd.nextInt(70)
      val docs = (0 until nDocs).map { i =>
        (i.toLong * (1 + rnd.nextInt(7)), langs(rnd.nextInt(3)),
          1L + rnd.nextInt(40))
      }.distinct
      val weights = Map("aa" -> (10 + rnd.nextInt(50)),
        "bb" -> (10 + rnd.nextInt(50)))  // cc UNWEIGHTED — must drop
      val total = 50L + rnd.nextInt(500)
      val got = ta.mixtureSampleOf(
          docs.toDF("doc_id", "lang", "n_tokens"), weights, total)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // reference: greedy prefix in (md5, doc_id) order per weighted lang
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = weights.flatMap { case (lang, pct) =>
        val budget = total * pct / 100
        var cum = 0L
        docs.filter(_._2 == lang)
          .sortBy(d => (md5hex(d._1.toString), d._1))
          .flatMap { case (id, _, n) =>
            val keep = cum < budget
            val row = if (keep) Some((id, lang, n, cum, budget)) else None
            cum += (if (keep) n else 0L)
            row
          }
      }.toSet
      assert(got.toSet == expect,
        s"trial $trial: sample != greedy md5-order prefix (got ${got.length}, want ${expect.size})")
      assert(got.forall(_._2 != "cc"), "unweighted lang leaked into the sample")
    }
  }

  test("property: epoch upsampling replica counts bound by the weight; pack conserves every replica's tokens") {
    val ta = graft.operators.TextAnalysis
    val rnd = new scala.util.Random(20260816)
    val docs = (0 until 80).map { i =>
      (i.toLong * 3, Seq("aa", "bb")(i % 2), 1L + rnd.nextInt(30))
    }
    val weights = Map("aa" -> 230, "bb" -> 140)
    val got = ta.epochUpsampleOf(
        docs.toDF("doc_id", "lang", "n_tokens"), weights)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length == docs.length)
    got.foreach { case (id, lang, _, e) =>
      val w = weights(lang)
      assert(e == w / 100 || e == w / 100 + 1, s"doc $id epochs $e out of bound")
    }
    // the md5 coin is non-degenerate: both floor and floor+1 occur
    assert(got.map(_._4).distinct.length > 1, "epoch coin degenerate")
    // composition: the packed stream holds exactly n_epochs replicas per
    // doc, each with the doc's token count, contiguous in replica order
    val docsDf = docs.toDF("doc_id", "lang", "n_tokens")
    val packed = ta.packingOf(
        ta.epochUpsampleOf(docsDf, weights)
          .filter(col("n_epochs") > 0)
          .withColumn("epoch",
            explode(sequence(lit(0L), col("n_epochs") - 1)))
          .select((col("doc_id") * 8 + col("epoch")).as("doc_id"),
            col("n_tokens")),
        seqLen = 32, chunkDocs = 7)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val epochsOf = got.map(g => g._1 -> g._4).toMap
    assert(packed.length == got.map(_._4).sum)
    packed.groupBy(_._1 / 8).foreach { case (id, rows) =>
      assert(rows.length == epochsOf(id), s"doc $id replica count drifted")
    }
    var cursor = 0L
    packed.foreach { case (_, n, first, off) =>
      assert(first * 32 + off == cursor, "replica stream not contiguous")
      cursor += n
    }
  }
}
