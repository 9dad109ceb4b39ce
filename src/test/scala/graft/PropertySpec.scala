package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws of the dedup/upsert/set operators over ScalaCheck-
  * generated data (SURVEY §5.2 ring 3). Raw Gen + fixed seeds (no
  * scalatestplus bridge in the offline cache): deterministic, 8 cases
  * per law. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cases[A](g: Gen[A], n: Int = 8): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val rowsGen: Gen[List[(Long, Long, Long)]] = Gen.listOfN(60,
    Gen.zip(Gen.chooseNum(1L, 20L), Gen.chooseNum(1L, 5L),
      Gen.chooseNum(0L, 1000L)))

  test("window dedup is idempotent: f(f(x)) = f(x)") {
    import spark.implicits._
    cases(rowsGen).foreach { rows =>
      val df = rows.toDF("key", "sub", "ord")
      def dedup(d: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"key").orderBy($"ord", $"sub")
        d.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1).drop("rn")
      }
      val once = dedup(df).collect().map(_.toString).sorted.toSeq
      val twice = dedup(dedup(df)).collect().map(_.toString).sorted.toSeq
      assert(once == twice)
    }
  }

  test("upsert of already-present staging is a no-op (idempotence)") {
    import spark.implicits._
    cases(rowsGen, 4).foreach { rows =>
      val target = rows.toDF("key", "sub", "ord").dropDuplicates("key")
      val staging = target.sample(withReplacement = false, 0.5, seed = 7)
      val merged = graft.etl.MicMacEtl.getOrCreate(target, staging, Seq("key"))
      assert(merged.count() == target.count())
    }
  }

  test("set algebra: (A except B) union (A intersect B) = distinct A") {
    import spark.implicits._
    val pairGen = Gen.zip(Gen.listOf(Gen.chooseNum(0, 30)),
      Gen.listOf(Gen.chooseNum(0, 30)))
    cases(pairGen).foreach { case (xs, ys) =>
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val lhs = a.except(b).union(a.intersect(b))
        .collect().map(_.getInt(0)).sorted.toSeq
      val rhs = a.distinct().collect().map(_.getInt(0)).sorted.toSeq
      assert(lhs == rhs)
    }
  }

  test("affine compose: identity laws and associativity (exact on ints)") {
    import spark.implicits._
    val id = Seq(1d, 0d, 0d, 0d, 0d, 1d, 0d, 0d, 0d, 0d, 1d, 0d)
    val matGen: Gen[List[Double]] =
      Gen.listOfN(12, Gen.chooseNum(-3, 3).map(_.toDouble))
    cases(Gen.zip(matGen, matGen, matGen)).foreach { case (a, b, c) =>
      val df = Seq((a, b, c, id)).toDF("a", "b", "c", "id")
      def fg = graft.etl.FrameGraph
      val r = df.select(
        fg.compose(col("id"), col("a")).as("li"),
        fg.compose(col("a"), col("id")).as("ri"),
        fg.compose(fg.compose(col("a"), col("b")), col("c")).as("ab_c"),
        fg.compose(col("a"), fg.compose(col("b"), col("c"))).as("a_bc"))
        .collect()(0)
      assert(r.getSeq[Double](0) == a, "identity ∘ a = a")
      assert(r.getSeq[Double](1) == a, "a ∘ identity = a")
      // integer-valued entries: float products are exact, so
      // associativity must hold bit-for-bit
      assert(r.getSeq[Double](2) == r.getSeq[Double](3),
        s"(a∘b)∘c != a∘(b∘c) for $a $b $c")
    }
  }

  test("containment dominates jaccard on the real corpus (sf0.01)") {
    // containment = i/min(|A|,|B|) >= jaccard = i/|A∪B| for every pair,
    // so (a) any reported jaccard pair also found by containment must
    // carry containment >= its jaccard, and (b) every pair with
    // jaccard >= the containment threshold MUST appear in the
    // containment output — a cross-operator consistency law on the two
    // engine outputs, not on a re-derivation of the formulas.
    val jac = SparkEntry.queries("q_dedup_near_jaccard")(
      spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = SparkEntry.queries("q_dedup_containment")(
      spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(jac.nonEmpty && cont.nonEmpty)
    jac.foreach { case (pair, j) =>
      // j is the 4-dp ROUNDED jaccard: a raw value just under 0.7 can
      // round to 0.7000 while the raw containment filter excludes the
      // pair — demand j clear the threshold by more than rounding slack
      if (j >= 0.70005)
        assert(cont.contains(pair),
          s"$pair has jaccard $j >= 0.7 but no containment entry")
      cont.get(pair).foreach(c =>
        assert(c >= j - 1e-4, s"$pair containment $c below jaccard $j"))
    }
  }

  test("salted join equals the plain join for any salt count") {
    import spark.implicits._
    val factGen: Gen[List[(Long, Long)]] = Gen.listOfN(80,
      Gen.zip(Gen.chooseNum(1L, 10L), Gen.chooseNum(0L, 100L)))
    val dimGen: Gen[List[(Long, String)]] = Gen.listOfN(10,
      Gen.zip(Gen.chooseNum(1L, 10L), Gen.oneOf("x", "y", "z")))
    cases(Gen.zip(factGen, dimGen), 4).foreach { case (fs, ds) =>
      val fact = fs.toDF("k", "v")
      val dim = ds.toDF("dk", "tag").dropDuplicates("dk")
      val plain = fact.join(dim, $"k" === $"dk")
        .groupBy($"tag").agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .collect().map(_.toString).sorted.toSeq
      for (salts <- Seq(1, 3, 16)) {
        val salted = fact
          .withColumn("salt", pmod(xxhash64($"k", $"v"), lit(salts)))
          .join(dim.select($"dk", $"tag",
              explode(sequence(lit(0L), lit(salts - 1L))).as("dsalt")),
            $"k" === $"dk" && $"salt" === $"dsalt")
          .groupBy($"tag").agg(count(lit(1)).as("n"), sum($"v").as("s"))
          .collect().map(_.toString).sorted.toSeq
        assert(salted == plain, s"salts=$salts diverged")
      }
    }
  }

  test("minhash signature of a superset is elementwise <= (unsigned)") {
    import spark.implicits._
    val toksGen = Gen.listOfN(30, Gen.identifier)
    cases(toksGen, 4).foreach { toks =>
      def sig(ts: Seq[String]): Seq[Long] =
        ts.toDF("t").selectExpr("xxhash64(t) AS h")
          .agg(expr("minhash128(h)")).head.getSeq[Long](0)
      val s1 = sig(toks)
      val s2 = sig(toks ++ toks.map(_ + "_extra"))
      assert(s1.zip(s2).forall { case (a, b) =>
        java.lang.Long.compareUnsigned(b, a) <= 0 })
    }
  }

  test("theta sketch bytes are identical under any merge split") {
    import graft.functions.ThetaSketch
    // the retained set is "the k smallest hashes of the input SET" —
    // order- and split-independent, so the compact ordered wire form
    // must be bitwise identical however Spark partitions the stream
    // (this is what makes the estimates run-stable, unlike KLL)
    val keysGen: Gen[List[Long]] =
      Gen.listOfN(6000, Gen.chooseNum(0L, 10000L)) // > k=4096 distinct space
    cases(keysGen, n = 4).foreach { keys =>
      val ref = {
        val h = ThetaSketch.aggregator.zero
        keys.foreach(k => ThetaSketch.aggregator.reduce(h, k))
        ThetaSketch.aggregator.finish(h)
      }
      Seq(2, 5, 9).foreach { parts =>
        val merged = keys.zipWithIndex.groupBy(_._2 % parts).values
          .map { chunk =>
            val h = ThetaSketch.aggregator.zero
            chunk.foreach { case (k, _) => ThetaSketch.aggregator.reduce(h, k) }
            h
          }.reduce(ThetaSketch.aggregator.merge)
        assert(ThetaSketch.aggregator.finish(merged).toSeq == ref.toSeq,
          s"parts=$parts")
      }
    }
  }

  test("bitmap distinct bytes are canonical under any merge split") {
    import graft.functions.BitmapDistinct
    // the bitmap is a pure function of the key SET: toBytes truncates
    // to the highest set word, so equal sets must give byte-equal
    // payloads whatever growth path / partition split built them —
    // that is what makes a STORED bitmap column reaggregatable
    val keysGen: Gen[List[Long]] =
      Gen.listOfN(400, Gen.chooseNum(0L, 5000L))
    cases(keysGen, n = 4).foreach { keys =>
      val ref = {
        val b = BitmapDistinct.buildAgg.zero
        keys.foreach(k => BitmapDistinct.buildAgg.reduce(b, Long.box(k)))
        BitmapDistinct.buildAgg.finish(b)
      }
      assert(BitmapDistinct.mergeAgg.finish({
        val b = BitmapDistinct.mergeAgg.zero
        BitmapDistinct.mergeAgg.reduce(b, ref)
      }) == keys.distinct.length.toLong, "cardinality = |key set|")
      Seq(2, 5, 9).foreach { parts =>
        val merged = keys.zipWithIndex.groupBy(_._2 % parts).values
          .map { chunk =>
            val b = BitmapDistinct.buildAgg.zero
            chunk.foreach { case (k, _) =>
              BitmapDistinct.buildAgg.reduce(b, Long.box(k)) }
            b
          }.reduce(BitmapDistinct.buildAgg.merge)
        assert(BitmapDistinct.buildAgg.finish(merged).toSeq == ref.toSeq,
          s"parts=$parts: split-built bitmap bytes must be canonical")
      }
    }
  }

  test("WAV/BMP round trips are bit-exact over random payloads") {
    import graft.multimodal.{Bmp, Wav}
    // encode->decode->encode must reproduce the original bytes for any
    // sample/pixel content — the property that makes the codecs safe
    // as a storage format, beyond MultimodalSpec's golden vectors
    val wavGen = for {
      ch <- Gen.chooseNum(1, 3)
      frames <- Gen.chooseNum(0, 200)
      rate <- Gen.oneOf(8000, 16000, 44100)
      samples <- Gen.listOfN(ch * frames,
        Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (samples.map(_.toShort).toArray, rate, ch)
    cases(wavGen, n = 6).foreach { case (samples, rate, ch) =>
      val bytes = Wav.encode(samples, rate, ch)
      val a = Wav.decode(bytes)
      assert(a.sampleRate == rate && a.channels == ch
        && a.samples.toSeq == samples.toSeq)
      assert(Wav.encode(a.samples, a.sampleRate, a.channels)
        .toSeq == bytes.toSeq, "re-encode must be bit-exact")
    }
    val bmpGen = for {
      w <- Gen.chooseNum(1, 9) // widths across all 4-byte pad phases
      h <- Gen.chooseNum(1, 6)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 0xffffff))
    } yield (w, h, px.toArray)
    cases(bmpGen, n = 6).foreach { case (w, h, px) =>
      val bytes = Bmp.encode(w, h, px)
      val img = Bmp.decode(bytes)
      assert(img.width == w && img.height == h
        && img.pixels.toSeq == px.toSeq)
      assert(Bmp.encode(img.width, img.height, img.pixels)
        .toSeq == bytes.toSeq, "re-encode must be bit-exact")
    }
  }

  test("frame-sample composes; NN resize picks only source pixels") {
    import graft.multimodal.{Bmp, Wav}
    // stride composition: sampling every j-th then every k-th frame IS
    // sampling every (j*k)-th — samples AND the declared rate (nested
    // floor division composes exactly on positive ints)
    val audioGen = for {
      ch <- Gen.chooseNum(1, 3)
      frames <- Gen.chooseNum(0, 150)
      j <- Gen.chooseNum(1, 5)
      k <- Gen.chooseNum(1, 5)
      samples <- Gen.listOfN(ch * frames,
        Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (Wav.Audio(44100, ch, 16, samples.map(_.toShort).toArray), j, k)
    cases(audioGen, n = 8).foreach { case (a, j, k) =>
      val twice = Wav.sampleEveryK(Wav.sampleEveryK(a, j), k)
      val once = Wav.sampleEveryK(a, j * k)
      assert(twice.samples.toSeq == once.samples.toSeq, s"j=$j k=$k")
      assert(twice.sampleRate == once.sampleRate, s"j=$j k=$k")
    }
    // NN resize: exact dims, every output pixel IS some input pixel
    // (no blending/invention), and the mapping is deterministic
    val resizeGen = for {
      w <- Gen.chooseNum(1, 9); h <- Gen.chooseNum(1, 6)
      tw <- Gen.chooseNum(1, 12); th <- Gen.chooseNum(1, 8)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 0xffffff))
    } yield (Bmp.Image(w, h, px.toArray), tw, th)
    cases(resizeGen, n = 8).foreach { case (img, tw, th) =>
      val r = Bmp.resizeNearest(img, tw, th)
      assert(r.width == tw && r.height == th
        && r.pixels.length == tw * th)
      val src = img.pixels.toSet
      assert(r.pixels.forall(src.contains), "NN must not invent pixels")
      assert(Bmp.resizeNearest(img, tw, th).pixels.toSeq ==
        r.pixels.toSeq, "resize must be deterministic")
    }
  }

  test("bottom-k heap matches sort-take-k whatever the merge split") {
    import graft.functions.BottomK
    val triplesGen: Gen[List[(Long, Long, Long)]] = Gen.listOfN(250,
      Gen.zip(Gen.chooseNum(0L, 120L), // hashes with deliberate ties
        Gen.chooseNum(1L, 100000L), Gen.chooseNum(0L, 500L)))
    cases(triplesGen).foreach { rows =>
      // reference: total order on (hash, id), take k, fingerprint
      val ref = rows.distinctBy(t => (t._1, t._2))
        .sortBy(t => (t._1, t._2)).take(BottomK.K)
      val expect = Array(ref.length.toLong, ref.map(_._2).sum,
        ref.map(_._3).sum)
      // heap path, under three different partition splits (merge order
      // must not matter — the aggregate is declared commutative)
      Seq(1, 3, 7).foreach { parts =>
        val heaps = rows.distinctBy(t => (t._1, t._2)).zipWithIndex
          .groupBy(_._2 % parts).values.map { chunk =>
            val h = BottomK.aggregator.zero
            chunk.foreach { case (t, _) =>
              BottomK.aggregator.reduce(h,
                (Long.box(t._1), Long.box(t._2), Long.box(t._3))) }
            h
          }
        val merged = heaps.reduce(BottomK.aggregator.merge)
        assert(BottomK.aggregator.finish(merged).toSeq == expect.toSeq,
          s"parts=$parts")
      }
    }
  }

  test("distributed running sum equals the single-window form, any parts") {
    import spark.implicits._
    // duplicate sort keys on purpose: (k, id) is the total order, and
    // the range partitioner may split anywhere — including between
    // equal k values on different ids
    val rowsGen2: Gen[List[(Long, Long, Long)]] = Gen.listOfN(120,
      Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 100000L),
        Gen.chooseNum(-5L, 5L)))
    cases(rowsGen2, 4).foreach { rows =>
      val df = rows.distinctBy(t => (t._1, t._2)).toDF("k", "id", "v")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"k", $"id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val ref = df.withColumn("ps", sum($"v").over(w))
        .select($"k", $"id", $"ps")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      Seq(1, 3, 8).foreach { parts =>
        val got = graft.operators.DistributedRank
          .withRunningSum(df, Seq($"k", $"id"), $"v", parts)
          .select($"k", $"id", $"_gr_psum")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2)).toSeq
        assert(got == ref, s"parts=$parts")
      }
    }
  }

  test("three-way rank law: scala reference = window = distributed, any parts") {
    import spark.implicits._
    // THREE independent implementations (the proven as-of/CC oracle
    // pattern): a plain-Scala sort, Spark's single-task window, and the
    // two-pass frozen-bounds ranker — on heavy-duplicate keys so the
    // sampled split points land BETWEEN equal k values on different ids
    val gen: Gen[List[(Long, Long)]] = Gen.listOfN(90,
      Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 100000L)))
    cases(gen, 4).foreach { rows =>
      val data = rows.distinct // (k, id) unique: the total-order precondition
      val df = data.toDF("k", "id")
      val n = data.size.toLong
      // impl 1: plain Scala. row_number over the (k, id) total order;
      // rank/percent_rank over the tied k-only order; textbook NTILE.
      val sorted = data.sortBy(t => (t._1, t._2))
      val rowNum = sorted.zipWithIndex
        .map { case (t, i) => t -> (i + 1L) }.toMap
      def ntileRef(r: Long, nb: Long): Long = {
        val q = n / nb; val rem = n % nb
        if (r <= rem * (q + 1)) (r - 1) / (q + 1) + 1
        else rem + (r - rem * (q + 1) - 1) / q + 1
      }
      def pctRef(r: Long): Double =
        if (n > 1) (r - 1).toDouble / (n - 1) else 0.0
      val rankRef = data.map(t =>
        t -> (1L + data.count(_._1 < t._1))).toMap
      // impl 2: the single-window form
      val wTot = org.apache.spark.sql.expressions.Window
        .orderBy($"k", $"id")
      val wK = org.apache.spark.sql.expressions.Window.orderBy($"k")
      df.select($"k", $"id", row_number().over(wTot).cast("long").as("rn"),
          ntile(4).over(wTot).cast("long").as("nt"),
          percent_rank().over(wTot).as("pct"),
          rank().over(wK).cast("long").as("rk"),
          percent_rank().over(wK).as("pk"))
        .collect().foreach { r =>
          val t = (r.getLong(0), r.getLong(1))
          assert(r.getLong(2) == rowNum(t) && r.getLong(3) ==
            ntileRef(rowNum(t), 4) && r.getDouble(4) == pctRef(rowNum(t)),
            s"window total-order mismatch at $t")
          assert(r.getLong(5) == rankRef(t)
            && r.getDouble(6) == pctRef(rankRef(t)),
            s"window tie mismatch at $t")
        }
      // impl 3: DistributedRank, across partition counts
      Seq(1, 3, 8).foreach { parts =>
        graft.operators.DistributedRank
          .withRankCols(df, Seq($"k", $"id"), numBuckets = 4, parts)
          .select($"k", $"id", $"_gr_rank", $"nt", $"pct")
          .collect().foreach { r =>
            val t = (r.getLong(0), r.getLong(1))
            assert(r.getLong(2) == rowNum(t)
              && r.getInt(3).toLong == ntileRef(rowNum(t), 4)
              && r.getDouble(4) == pctRef(rowNum(t)),
              s"distributed mismatch at $t parts=$parts")
          }
        graft.operators.DistributedRank
          .withRankColsTieSafe(df, Seq($"k"), numBuckets = 4, parts)
          .select($"k", $"id", $"_gr_rank", $"pct")
          .collect().foreach { r =>
            val t = (r.getLong(0), r.getLong(1))
            assert(r.getLong(2) == rankRef(t)
              && r.getDouble(3) == pctRef(rankRef(t)),
              s"tie-safe mismatch at $t parts=$parts")
          }
      }
    }
  }

  test("graftlines block splits are invariant: any split size, same rows") {
    import spark.implicits._
    // hostile string alphabet: escapes, tabs, newlines, multi-byte
    // UTF-8 (2-, 3-, 4-byte sequences) so byte-range boundaries land
    // inside encoded characters; NULLs via the Option layer
    val cellGen: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.listOf(Gen.oneOf("a", "é", "λ", "😀", "\\", "\t", "\n",
        "\r", "x", "", "\\N")).map(l => Some(l.mkString)))
    // n >= 1: an all-empty write lands no file (lazy writers), and a
    // fileless dir is a loud read error by design, not a split case
    val tableGen: Gen[List[(Long, Option[String])]] =
      Gen.chooseNum(1, 40).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 99L), cellGen)))
    val dir = GraftTmp.dir("prop_split")
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try cases(tableGen, 6).zipWithIndex.foreach { case (rows, i) =>
      val p = s"$dir/$i"
      rows.toDF("k", "s").coalesce(1)
        .write.format("graftlines").mode("overwrite").save(p)
      spark.conf.set(key, String.valueOf(Long.MaxValue))
      val whole = spark.read.format("graftlines").load(p)
        .collect().map(_.toString).sorted.toSeq
      // 3, 17: boundaries inside header AND inside multibyte chars
      Seq(3L, 17L, 101L).foreach { sz =>
        spark.conf.set(key, sz.toString)
        val split = spark.read.format("graftlines").load(p)
          .collect().map(_.toString).sorted.toSeq
        assert(split == whole, s"case $i split=$sz lost/duplicated rows")
      }
    } finally spark.conf.set(key, prev)
  }

  test("change feed: delta EXCEPT = full EXCEPT over random histories") {
    import spark.implicits._
    // random versioned-table histories of UNIQUE-keyed rows (the
    // option's documented equivalence precondition) through appends
    // and COW DELETEs; for the (first, latest) version pair the
    // file-delta diff must equal the full-scan diff, and the live
    // count (served by the manifest shortcut when stats are fresh)
    // must equal the simulated row set — whatever the history
    sealed trait Op
    case class App(lo: Long, n: Long) extends Op
    case class Del(p: Long, r: Long) extends Op
    val opGen: Gen[Op] = Gen.frequency(
      2 -> Gen.zip(Gen.chooseNum(100L, 900L), Gen.chooseNum(5L, 40L))
        .map { case (lo, n) => App(lo * 100, n) },
      3 -> Gen.zip(Gen.chooseNum(2L, 7L), Gen.chooseNum(0L, 6L))
        .map { case (p, r) => Del(p, r % p) })
    val histGen: Gen[List[Op]] = Gen.listOfN(3, opGen)
    spark.conf.set("spark.sql.catalog.graft_prop",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_prop.warehouse",
      GraftTmp.dir("prop_cdf"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_prop.ns")
    cases(histGen, 4).zipWithIndex.foreach { case (ops, i) =>
      val t = s"graft_prop.ns.cdf$i"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
        "USING graftlines TBLPROPERTIES ('versioned'='true')")
      var live = (0L until 30L).map(k => k -> k * 7).toMap
      live.toSeq.toDF("k", "v").coalesce(2).writeTo(t).append() // gen 1
      ops.foreach {
        case App(lo, n) =>
          val fresh = (lo until lo + n).map(k => k -> k * 7)
            .filterNot { case (k, _) => live.contains(k) }
          live = live ++ fresh
          fresh.toDF("k", "v").coalesce(2).writeTo(t).append()
        case Del(p, r) =>
          live = live.filterNot { case (k, _) => k % p == r }
          spark.sql(s"DELETE FROM $t WHERE k % $p = $r")
      }
      val latest = 1 + ops.length
      val tdir = s"${GraftTmp.dir("prop_cdf")}/ns/cdf$i"
      def full(v: Int) = spark.read.format("graftlines")
        .option("versionAsOf", v).load(tdir)
      def delta(v: Int, m: Int) = spark.read.format("graftlines")
        .option("versionAsOf", v).option("excludeFilesOfVersion", m)
        .load(tdir)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows(delta(latest, 1).except(delta(1, latest)))
        == rows(full(latest).except(full(1))), s"case $i inserts")
      assert(rows(delta(1, latest).except(delta(latest, 1)))
        == rows(full(1).except(full(latest))), s"case $i deletes")
      // live state: exact rows AND the aggregate COUNT path
      assert(rows(spark.table(t)) == live.toSet.map(
        (kv: (Long, Long)) => kv), s"case $i live rows")
      assert(spark.table(t).agg(count(lit(1))).head().getLong(0)
        == live.size, s"case $i live count")
    }
  }

}
