package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{AsOf, MinHashLSH, SaltedJoin}

/** Property-based algebraic laws (SURVEY.md §5.2 item 3) over seeded
  * ScalaCheck generators — deterministic (fixed seeds), so failures
  * reproduce. Each law runs on several generated datasets; DataFrame
  * row counts stay small because the point is the algebra, not volume.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val rowsGen: Gen[List[(Long, String, Double)]] =
    Gen.listOfN(30, Gen.zip(
      Gen.choose(0L, 9L),
      Gen.oneOf("a", "b", "c", "d"),
      Gen.choose(-100.0, 100.0)))

  test("law: unionAll count = sum of counts") {
    samples(rowsGen, 5).foreach { rows =>
      val half = rows.length / 2
      val (l, r) = rows.splitAt(half)
      val (dl, dr) = (l.toDF("k", "s", "v"), r.toDF("k", "s", "v"))
      assert(dl.unionByName(dr).count() === dl.count() + dr.count())
    }
  }

  test("law: filter(p && !p) is empty; filter(p) + filter(!p) partitions the set") {
    samples(rowsGen, 5).foreach { rows =>
      val df = rows.toDF("k", "s", "v")
      val p = col("v") > 0.0
      assert(df.filter(p && !p).count() === 0)
      assert(df.filter(p).count() + df.filter(!p).count() === df.count())
    }
  }

  test("law: dropDuplicates is idempotent and bounded by distinct key count") {
    samples(rowsGen, 5).foreach { rows =>
      val df = rows.toDF("k", "s", "v")
      val once = df.dropDuplicates(Seq("k", "s"))
      assert(once.dropDuplicates(Seq("k", "s")).count() === once.count())
      assert(once.count() === rows.map(r => (r._1, r._2)).distinct.size)
    }
  }

  test("law: global sort on a unique key is invariant under repartitioning") {
    samples(rowsGen, 3).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((k, s, v), i) => (i.toLong, k, s, v) }
        .toDF("id", "k", "s", "v")
      val sorted = df.orderBy("id").collect().toSeq
      Seq(1, 3, 7).foreach { n =>
        assert(df.repartition(n).orderBy("id").collect().toSeq === sorted)
      }
    }
  }

  test("law: minhash self-similarity — an exact copy always pairs at jaccard 1.0") {
    val textGen = Gen.listOfN(12,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
      .map(_.mkString(" "))
    samples(textGen, 5).foreach { text =>
      val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text", minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
      spark.catalog.clearCache()
    }
  }

  test("law: as-of join preserves the left row count for arbitrary inputs") {
    val eventsGen = Gen.listOfN(20, Gen.zip(
      Gen.choose(0L, 3L), Gen.choose(0L, 50L), Gen.choose(0L, 999L)))
    samples(Gen.zip(eventsGen, eventsGen), 5).foreach { case (l, r) =>
      val left = l.toDF("key", "ts", "event_id")
      val right = r.toDF("key", "ts", "event_id")
        .withColumn("payload", col("ts") * 2)
      assert(AsOf.join(left, right, Seq("key"), "ts").count() === left.count())
    }
  }

  test("law: the flagship decimal-exact aggregate is invariant to shuffle " +
    "partitioning (the core claim behind the oracle protocol)") {
    val sfDir = sf
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): Seq[Seq[Any]] =
      queries.Relational.q01.build(spark, sfDir).collect().map(_.toSeq).toSeq
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = run()
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      val many = run()
      assert(one === many) // bitwise — doubles included
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("law: salted join result set equals the plain join's for any salt count") {
    samples(Gen.zip(rowsGen, Gen.choose(2, 16)), 5).foreach { case (rows, salts) =>
      val facts = rows.toDF("k", "s", "v")
      val dim = Seq(("a", 1), ("b", 2), ("x", 9)).toDF("s", "code")
      val salted = SaltedJoin.join(facts, dim, "s", salts)
        .select("k", "s", "v", "code").collect().map(_.toSeq)
      val plain = facts.join(dim, Seq("s"))
        .select("k", "s", "v", "code").collect().map(_.toSeq)
      assert(salted.sortBy(_.toString).toSeq === plain.sortBy(_.toString).toSeq)
    }
  }

  test("law: SpatialJoin equals the brute-force cross product for any " +
    "generated point set and any power-of-two radius") {
    import graft.operators.SpatialJoin
    val ptsGen = Gen.listOfN(60, Gen.zip(
      Gen.choose(-40.0, 40.0), Gen.choose(-40.0, 40.0)))
    samples(Gen.zip(ptsGen, Gen.oneOf(0.25, 0.5, 1.0, 2.0)), 4)
      .foreach { case (coords, r) =>
        val pts = coords.zipWithIndex
          .map { case ((la, lo), i) => (i.toLong, la, lo) }
          .toDF("k", "lat", "lon")
        val fast = SpatialJoin.withinRadius(pts, "k", "lat", "lon", r)
          .select("a_key", "b_key").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        val a = pts.select(col("k").as("a"), col("lat").as("la"), col("lon").as("lo"))
        val brute = a.crossJoin(pts)
          .filter(col("a") < col("k") &&
            ((col("la") - col("lat")) * (col("la") - col("lat")) +
             (col("lo") - col("lon")) * (col("lo") - col("lon"))) < r * r)
          .select("a", "k").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        assert(fast === brute, s"radius $r")
      }
  }

  test("law: winnowing guarantee — any two docs sharing a >= w+k-1 token run " +
    "share a fingerprint, for arbitrary generated surroundings") {
    val k = 4; val w = 4
    val token: Gen[String] = Gen.chooseNum(0, 9999).map(i => s"t$i")
    val caseGen: Gen[(List[String], List[String], List[String], List[String], List[String])] =
      for {
        run <- Gen.listOfN(w + k - 1, token) // exactly the guarantee minimum
        a1 <- Gen.listOfN(5, token); a2 <- Gen.listOfN(5, token)
        b1 <- Gen.listOfN(7, token); b2 <- Gen.listOfN(3, token)
      } yield (run, a1, a2, b1, b2)
    samples(caseGen, 8).foreach { case (run, a1, a2, b1, b2) =>
      val docA = (a1 ++ run ++ a2).mkString(" ")
      val docB = (b1 ++ run ++ b2).mkString(" ")
      val fps = Seq((0, docA), (1, docB)).toDF("id", "text")
        .select(col("id"),
          graft.operators.Winnowing.fingerprints(col("text"), k, w).as("fps"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
      assert(fps(0).intersect(fps(1)).nonEmpty,
        s"guarantee violated for run=$run")
    }
  }

  test("law: PrefixScan inclusive cum == single-window running sum on " +
    "generated data, for any bucket width incl. negative values and ties") {
    import org.apache.spark.sql.expressions.Window
    val gen: Gen[(List[(String, Double, Long, Long)], Double)] = for {
      rows <- Gen.listOfN(60, Gen.zip(
        Gen.oneOf("g1", "g2", "g3"),
        // coarse value grid forces ties; negatives exercise trunc-bucketing
        Gen.choose(-20, 20).map(_.toDouble),
        Gen.choose(0L, 1000000L),
        Gen.choose(1L, 5L)))
      width <- Gen.oneOf(1.0, 3.0, 7.5, 1e6)
    } yield (rows, width)
    samples(gen, 6).foreach { case (rows, width) =>
      // tie column must be unique for a well-defined window order
      val df = rows.zipWithIndex
        .map { case ((g, v, _, w), i) => (g, v, i.toLong, w) }
        .toDF("g", "v", "tie", "w")
      val win = Window.partitionBy(col("g")).orderBy(col("v"), col("tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df.withColumn("cum", sum(col("w")).over(win))
        .select("g", "tie", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = graft.operators.PrefixScan
        .inclusive(df, Seq("g"), "v", Seq("tie"), "w", _ / width, "cum")
        .select("g", "tie", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === expected, s"width=$width")
    }
  }

  test("law: distributed BPE equals a sequential reference " +
    "implementation on generated corpora") {
    import graft.operators.BpeVocab
    def md5hex8(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    // sequential reference: greedy BPE over a word-frequency map
    def refBpe(words: Map[String, Long], rounds: Int): Seq[(String, String, String, Long)] = {
      var reprs = words.map { case (w, f) =>
        (w.map(c => md5hex8(c.toString)).toList, f) }.toSeq
      val out = Seq.newBuilder[(String, String, String, Long)]
      var r = 0
      var done = false
      while (r < rounds && !done) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        reprs.foreach { case (syms, f) =>
          syms.zip(syms.drop(1)).foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + f }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), cnt) = counts.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head
          val m = md5hex8(a + b)
          out += ((a, b, m, cnt))
          // greedy leftmost-nonoverlapping merge
          def merge(s: List[String]): List[String] = s match {
            case x :: y :: rest if x == a && y == b => m :: merge(rest)
            case x :: rest => x :: merge(rest)
            case Nil => Nil
          }
          reprs = reprs.map { case (syms, f) => (merge(syms), f) }
          r += 1
        }
      }
      out.result()
    }
    val wordGen: Gen[String] =
      Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("ab")).map(_.mkString))
    val corpusGen: Gen[List[String]] =
      Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, wordGen))
    samples(corpusGen, 6).foreach { words =>
      val docs = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val (merges, _) = BpeVocab.train(BpeVocab.wordTable(docs, "text"), 4)
      val freqs = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expected = refBpe(freqs, 4)
      assert(merges.map(m => (m.a, m.b, m.merged, m.cnt)) === expected,
        s"corpus=$words")
    }
  }

  test("law: chunk windows tile every token — stride-spaced starts, " +
    "full coverage, bounded non-empty chunks") {
    val caseGen: Gen[(Int, Int, Int)] = for {
      stride <- Gen.choose(1, 10)
      extra  <- Gen.choose(0, 8)
      nTok   <- Gen.choose(1, 100)
    } yield (nTok, stride + extra, stride)
    samples(caseGen, 8).foreach { case (nTok, window, stride) =>
      val text = (1 to nTok).map(i => s"t$i").mkString(" ")
      val chunks = graft.queries.Text
        .chunkWindows(Seq((1L, text)).toDF("doc_id", "text"), window, stride)
        .orderBy(col("chunk_id"))
        .select("tok_start", "n_tok").collect()
        .map(r => (r.getInt(0), r.getInt(1)))
      // starts are 0, stride, 2*stride, ...; every chunk non-empty and
      // <= window; spans cover [0, nTok) with no gap (stride <= window)
      chunks.zipWithIndex.foreach { case ((start, len), i) =>
        assert(start === i * stride)
        assert(len > 0 && len <= window)
        // ADVICE r8: every chunk after the first EXTENDS coverage —
        // the previous window must not already have reached the end
        // (no trailing strict-subset chunk)
        if (i > 0) assert((i - 1) * stride + window < nTok,
          s"subset chunk: nTok=$nTok window=$window stride=$stride i=$i")
      }
      val covered = chunks.flatMap { case (s, l) => s until (s + l) }.toSet
      assert(covered === (0 until nTok).toSet,
        s"nTok=$nTok window=$window stride=$stride")
    }
  }

  test("law: intra codec drift + distortion on ARBITRARY planes — for " +
    "any generated frame sequence, dims and qp: parse(encode(x)) == the " +
    "encoder's closed-loop recon bit-exactly, every sample within " +
    "step/2 + 1 of its source (P residual vs predictor likewise), and " +
    "the bitstream is stable under re-encode of the recon at qp 0") {
    import graft.multimodal.IntraVideoCodec
    val cfgGen = Gen.zip(
      Gen.oneOf(4, 8, 12), Gen.oneOf(4, 8),
      Gen.choose(0, 7), Gen.choose(1, 3))
    samples(cfgGen, 8).foreach { case (w, h, qp, nf) =>
      val pxGen = Gen.listOfN(w * h * nf, Gen.choose(0, 255))
      samples(pxGen, 2).foreach { px =>
        val frames = px.grouped(w * h).map(_.toArray).toSeq
        val bytes = IntraVideoCodec.encode(frames, w, h, qp)
        val v = IntraVideoCodec.parse(bytes)
          .getOrElse(fail(s"parse failed: w=$w h=$h qp=$qp nf=$nf"))
        val rec = IntraVideoCodec.reconstruct(frames, w, h, qp)
        v.frames.zip(rec).foreach { case (g, e) =>
          assert(g.sameElements(e), s"drift at w=$w h=$h qp=$qp")
        }
        val bound = (1 << qp) / 2 + 1
        // intra frame: recon vs source; P frames: the coded delta is
        // (source - prevRecon), so recon-(prev+0)=... bound holds vs
        // source too because prediction is exact-integer
        frames.zip(v.frames).foreach { case (src, r) =>
          val worst = src.zip(r).map { case (a, b) => math.abs(a - b) }.max
          assert(worst <= bound, s"err $worst > $bound at qp=$qp")
        }
        // qp=0 re-encode of the recon is drift-free (lossless grid)
        val re = IntraVideoCodec.parse(
          IntraVideoCodec.encode(v.frames, w, h, 0)).get
        re.frames.zip(v.frames).foreach { case (a, b) =>
          assert(a.sameElements(b), "qp=0 re-encode drifted")
        }
      }
    }
  }

  test("law: rollover translation composition == single-shot for " +
    "ARBITRARY doc length multisets and deletion patterns") {
    import graft.operators.GenerationRollover
    import graft.queries.Text
    val lenGen = Gen.listOfN(40, Gen.choose(1, 300))
    samples(Gen.zip(lenGen, Gen.choose(2, 6), Gen.choose(2, 4)), 4)
      .foreach { case (lens, m1, m2) =>
        val counts = lens.zipWithIndex
          .map { case (n, i) => (i.toLong, n.toLong) }
          .toDF("doc_id", "n_tok")
        val map0 = Text.packingMapFromCounts(counts, 64).localCheckpoint()
        val ids = lens.indices.map(_.toLong)
        val del1 = ids.filter(_ % m1 == 0).toDF("doc_id")
        val del2 = ids.filter(i => i % m1 != 0 && i % m2 == 1).toDF("doc_id")
        val (map1, t01) = GenerationRollover.rollover(map0, del1, 64)
        val (_, t12) = GenerationRollover.rollover(map1, del2, 64)
        val composed = GenerationRollover.composeTranslations(t01, t12)
        val direct = GenerationRollover
          .rollover(map0, del1.unionByName(del2), 64)._2
        val key = Seq("doc_id", "old_bin_id", "old_bin_off", "new_bin_id",
          "new_bin_off", "span_len")
        val got = composed.select(key.map(col): _*)
          .collect().map(_.toSeq).toSet
        val want = direct.select(key.map(col): _*)
          .collect().map(_.toSeq).toSet
        assert(got === want, s"m1=$m1 m2=$m2")
      }
  }

  test("law: TopKLong == sort-take for ARBITRARY multisets (dup scores, " +
    "values past the Double-exact boundary)") {
    val entryGen = Gen.listOfN(40, Gen.zip(
      Gen.oneOf(Gen.choose(-5L, 5L), Gen.choose((1L << 53) - 2, (1L << 53) + 2)),
      Gen.choose(0L, 19L)))
    samples(Gen.zip(entryGen, Gen.choose(1, 8)), 5).foreach { case (rows0, k) =>
      // unique ids (the aggregate's documented precondition)
      val rows = rows0.zipWithIndex.map { case ((s, _), i) => (s, i.toLong) }
      val agg = udaf(new graft.functions.TopKLong(k))
      val got = rows.toDF("s", "id").withColumn("t", lit(0L))
        .agg(agg(col("s"), col("id"), col("t")).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.score"), col("e.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = rows.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(got === want, s"k=$k")
    }
  }

  test("law: TopKStr == sort-take under UTF-8 byte order for ARBITRARY " +
    "multisets (dup scores, dup-prone term strings)") {
    val entryGen = Gen.listOfN(40, Gen.zip(
      Gen.choose(-5L, 5L),
      Gen.listOfN(3, Gen.oneOf("a", "b", "zz", "é")).map(_.mkString)))
    samples(Gen.zip(entryGen, Gen.choose(1, 8)), 5).foreach { case (rows0, k) =>
      // unique ids (the aggregate's documented precondition)
      val rows = rows0.zipWithIndex
        .map { case ((s, t), i) => (s, t + i.toString) }
      def utf8Lt(a: String, b: String): Boolean = {
        val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          if ((x(i) & 0xff) != (y(i) & 0xff)) return (x(i) & 0xff) < (y(i) & 0xff)
          i += 1
        }
        x.length < y.length
      }
      val agg = udaf(new graft.functions.TopKStr(k))
      val got = rows.toDF("s", "id").withColumn("t", lit(0L))
        .agg(agg(col("s"), col("id"), col("t")).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.score"), col("e.id"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val want = rows.sortWith { case ((s1, i1), (s2, i2)) =>
        s1 > s2 || (s1 == s2 && utf8Lt(i1, i2))
      }.take(k)
      assert(got === want, s"k=$k")
    }
  }

  test("law: positional FOR roundtrip for ARBITRARY valid blocks; " +
    "truncation/trailing bytes reject; the LEB128 twin agrees") {
    val blockGen: Gen[List[(Long, Seq[Long])]] = for {
      docs0 <- Gen.nonEmptyListOf(Gen.choose(0L, 5000L))
      seedm <- Gen.choose(1L, 6L)
    } yield docs0.distinct.sorted.zipWithIndex.map { case (d, i) =>
      val m = 1 + ((d + seedm + i) % 5).toInt
      (d, (1L to 400L by (d % 7) + 3).take(m).toSeq)
    }
    samples(blockGen, 40).foreach { blk =>
      val bytes = graft.operators.ForCodec.encodePositional(blk)
      assert(graft.operators.ForCodec
        .decodePositional(bytes, blk.size).contains(blk))
      assert(graft.operators.ForCodec
        .decodePositional(bytes.dropRight(1), blk.size).isEmpty)
      assert(graft.operators.ForCodec
        .decodePositional(bytes :+ 0.toByte, blk.size).isEmpty)
      val leb = graft.operators.PostingCodec.encodePositional(blk)
      assert(graft.operators.PostingCodec
        .decodePositional(leb, blk.size).contains(blk),
        "LEB128 positional twin diverged on the same block")
    }
  }

  test("law: replica loss recovery == from-scratch S-1 replicated " +
    "build, BOTH stores byte for byte, for ARBITRARY corpora and ring " +
    "sizes") {
    import graft.operators.ReplicatedIndex
    val docGen = Gen.listOfN(50, Gen.listOfN(5,
      Gen.oneOf("a", "bb", "ccc", "dd", "e")))
    samples(Gen.zip(docGen, Gen.choose(3, 5)), 3).foreach { case (bodies, s0) =>
      val docs = bodies.zipWithIndex
        .map { case (ws, i) => (i.toLong * 7, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val rep = ReplicatedIndex.build(docs, s0)
      val rec = ReplicatedIndex.recoverLost(rep, s0)
      val want = ReplicatedIndex.build(docs, s0 - 1)
      def pm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map { r =>
          (r.getLong(0), r.getString(1), r.getLong(2)) ->
            (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
        }.toMap
      def rm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map { r =>
          (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)) ->
            (r.getInt(4), r.getAs[Array[Byte]](5).toSeq)
        }.toMap
      assert(pm(rec.primaryStore) === pm(want.primaryStore), s"s0=$s0 primary")
      assert(rm(rec.replicaStore) === rm(want.replicaStore), s"s0=$s0 replica")
    }
  }

  test("law: index reshard maintained == rebuilt, byte for byte, for " +
    "ARBITRARY corpora and ring sizes; movers only reach the new shard") {
    import graft.operators.{IndexReshard, ShardedIndex}
    val docGen = Gen.listOfN(60, Gen.listOfN(6,
      Gen.oneOf("a", "bb", "ccc", "dd", "e", "fff", "g")))
    samples(Gen.zip(docGen, Gen.choose(2, 5)), 3).foreach { case (bodies, s0) =>
      val docs = bodies.zipWithIndex
        .map { case (ws, i) => (i.toLong * 3, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val r = IndexReshard.reshard(docs, s0)
      val maintained = r.newStore.select("shard", "term", "bucket", "df", "bytes")
        .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)) ->
          (x.getInt(3), x.getAs[Array[Byte]](4).toSeq)).toMap
      val rebuilt = graft.queries.Text.postingStore(
        r.assignments.join(docs, "doc_id")
          .select(col("shard_new").as("shard"), col("doc_id"), col("text")),
        "shard")
        .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)) ->
          (x.getInt(3), x.getAs[Array[Byte]](4).toSeq)).toMap
      assert(maintained === rebuilt, s"s0=$s0")
      val moverTargets = r.assignments
        .filter(col("shard_old") =!= col("shard_new"))
        .select("shard_new").distinct().collect().map(_.getLong(0)).toSet
      assert(moverTargets.subsetOf(Set(s0.toLong)), s"s0=$s0: $moverTargets")
    }
  }

  test("law: any Levenshtein<=1 pair shares a deletion variant (the " +
    "SymSpell candidate-generation completeness q285 rests on)") {
    def del1(s: String): Set[String] =
      Set(s) ++ (0 until s.length).map(i => s.substring(0, i) + s.substring(i + 1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    samples(Gen.zip(wordGen, wordGen), 200).foreach { case (x, y) =>
      if (lev(x, y) <= 1)
        assert(del1(x).intersect(del1(y)).nonEmpty, s"'$x' / '$y'")
    }
  }
}
