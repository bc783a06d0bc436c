package graft

import graft.core.Naming
import graft.operators.EtlOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.4), using ScalaCheck generators
  * with deterministic seeded sampling (the scalatest-scalacheck bridge isn't
  * in the offline cache). Driver-side properties get many cases; Spark-side
  * properties fewer (each case pays a job).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def forAllSamples[A](gen: Gen[A], cases: Int)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var tries = 0
    while (produced < cases && tries < cases * 20) {
      gen.apply(Gen.Parameters.default, seed) match {
        case Some(a) => f(a); produced += 1
        case None => ()
      }
      seed = seed.next
      tries += 1
    }
    assert(produced == cases, s"generator too sparse: $produced/$cases")
  }

  private val identGen: Gen[String] = for {
    parts <- Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(6)),
      Gen.alphaUpperStr.suchThat(_.nonEmpty).map(_.take(4)),
      Gen.numStr.suchThat(_.nonEmpty).map(_.take(3))))
    sep <- Gen.oneOf("", " ", "-", "/", "_")
  } yield parts.mkString(sep).take(40)

  test("P14: toSnakeCase is idempotent on arbitrary identifier shapes") {
    forAllSamples(identGen, 200) { name =>
      val once = Naming.toSnakeCase(name)
      assert(Naming.toSnakeCase(once) == once)
    }
  }

  test("P14: snake-cased names contain no separators or uppercase") {
    forAllSamples(identGen, 200) { name =>
      val out = Naming.toSnakeCase(name)
      assert(!out.exists(c => c.isUpper || c == ' ' || c == '-' || c == '/'))
    }
  }

  test("P4: cutoff filter output is a subset with max(ts) strictly below the cutoff") {
    val tsGen = Gen.listOfN(60, Gen.choose(0L, 200L))
    forAllSamples(tsGen.flatMap(o => Gen.choose(50L, 150L).map(c => (o, c))), 5) { case (offsets, cut) =>
      val base = 1700000000L
      val df = offsets.zipWithIndex
        .map { case (o, i) => (i.toLong, new java.sql.Timestamp((base + o * 3600) * 1000L)) }
        .toDF("id", "ts")
      val cutoff = new java.sql.Timestamp((base + cut * 3600) * 1000L)
      val out = EtlOps.cutoffBefore("ts", cutoff)(df)
      val kept = out.select("id").as[Long].collect().toSet
      val all = df.select("id").as[Long].collect().toSet
      assert(kept.subsetOf(all))
      val maxTs = out.agg(max($"ts")).collect()(0)
      assert(maxTs.isNullAt(0) || maxTs.getTimestamp(0).before(cutoff))
    }
  }

  test("A2/A3 invariant: pivot row-sums equal pre-pivot group sums") {
    val rowGen = Gen.listOfN(80, for {
      k <- Gen.oneOf("k1", "k2", "k3")
      t <- Gen.oneOf("D", "DF", "NG", "TI")
      v <- Gen.choose(0, 10000).map(_ / 100.0)
    } yield (k, t, v))
    forAllSamples(rowGen, 5) { rows =>
      val df = rows.toDF("k", "t", "v").withColumn("v", $"v".cast("string"))
      val wide = EtlOps.pivotSum(Seq("k"), "t", Seq("D", "DF", "NG", "TI"), "v",
        dropIncomplete = false)(df)
      val rowSums = wide
        .select($"k", (Seq("D", "DF", "NG", "TI").map(c => coalesce(col(c), lit(0.0)))
          .reduce(_ + _)).as("s"))
        .collect().map(r => r.getString(0) -> BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP)).toMap
      val groupSums = df.groupBy($"k")
        .agg(graft.operators.ExactAgg.sumExact($"v").as("s"))
        .collect().map(r => r.getString(0) -> BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP)).toMap
      assert(rowSums == groupSums)
    }
  }

  test("U1 invariant: union of disjoint pages preserves rows exactly") {
    forAllSamples(Gen.choose(2, 5), 3) { nPages =>
      val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
      val pages = (0 until nPages).map(i => li.filter($"l_orderkey" % nPages === i))
      assert(EtlOps.unionPages(pages).count() == li.count())
    }
  }

  test("mergeUpsert invariants: keys total and unique, update wins, pass-through exact") {
    val rowsGen = for {
      baseKeys <- Gen.nonEmptyListOf(Gen.choose(1L, 30L)).map(_.distinct)
      updKeys <- Gen.nonEmptyListOf(Gen.choose(1L, 45L)).map(_.distinct)
    } yield (baseKeys, updKeys)
    forAllSamples(rowsGen, 5) { case (baseKeys, updKeys) =>
      val base = baseKeys.map(k => (k, s"b$k", 1L)).toDF("k", "v", "ver")
      val updates = updKeys.map(k => (k, s"u$k", 2L)).toDF("k", "v", "ver")
      val merged = EtlOps.mergeUpsert(base, updates, Seq("k"), "ver")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(merged.keySet == (baseKeys ++ updKeys).toSet) // total
      updKeys.foreach(k => assert(merged(k) == s"u$k"))    // update wins
      baseKeys.filterNot(updKeys.contains)
        .foreach(k => assert(merged(k) == s"b$k"))         // untouched survive
    }
  }

  private val docGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf("key", "agg", "row", "scan", "table", "hash", "merge", ""),
    Gen.alphaNumStr.map(_.take(8)))).map(_.mkString(" ").take(300))

  test("native minhash kernel equals the relational explode + 32-min-agg form") {
    import graft.operators.Dedup
    forAllSamples(Gen.listOfN(40, docGen), 3) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // native path (production)
      val native = Dedup.minhashSignatures(df, "doc_id", "text", 3)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      // relational reference: explode shingles, hash, 32 min aggregates
      val sh = Dedup.wordShinglesAll(df, "doc_id", "text", 3)
        .withColumn("h", Dedup.hash32($"gram"))
      val aggs = (0 until Dedup.NumHashes).map(i =>
        min((lit(Dedup.hashA(i)) * $"h" + lit(Dedup.hashB(i))) % Dedup.MinhashPrime)
          .as(s"m$i"))
      val relational = sh.groupBy($"sid").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(native == relational)
    }
  }

  test("native simhash kernel equals the relational explode + bit-sum form") {
    import graft.operators.Dedup
    forAllSamples(Gen.listOfN(40, docGen), 3) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = Dedup.simhash(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val toks = df.select($"doc_id".as("sid"), explode(split($"text", " ")).as("tok"))
        .withColumn("h", Dedup.hash48($"tok"))
      val bitSums = (0 until Dedup.SimhashBits).map(b =>
        sum(when(shiftright($"h", b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
      val packed = (0 until Dedup.SimhashBits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
      val relational = toks.groupBy($"sid")
        .agg(bitSums.head, bitSums.tail: _*)
        .select($"sid", packed.as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == relational)
    }
  }

  test("native LSH bucket kernel equals the per-table codegen'd lshBucket form") {
    import graft.operators.Similarity
    val vecGen = Gen.listOfN(16, Gen.listOfN(8, Gen.choose(-1.0f, 1.0f)))
    forAllSamples(vecGen, 3) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val nTables = 4; val nPlanes = 5; val dim = 8
      val native = Similarity.lshNearDupPairs(df, "vec_id", "embedding",
        dim, nTables, nPlanes, threshold = -2.0) // threshold -2 keeps ALL candidate pairs
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // reference: per-table scalar lshBucket (independent codegen'd path)
      val q = df.select($"vec_id".as("sid"), Similarity.quantize($"embedding").as("qv"))
      val perTable = (0 until nTables).map { t =>
        q.select($"sid", lit(t).as("tbl"),
          Similarity.lshBucket($"qv", dim, t, nPlanes).as("bucket"))
      }.reduce(_ unionByName _)
      val expected = perTable.as("a")
        .join(perTable.as("b"),
          $"a.tbl" === $"b.tbl" && $"a.bucket" === $"b.bucket" && $"a.sid" < $"b.sid")
        .select($"a.sid", $"b.sid").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native == expected)
    }
  }

  test("weighted sampling boundaries: weight 0 keeps nothing, weight 1 keeps everything, monotone in between") {
    val docs = (1L to 300L).map(i => (i, (i % 10) / 10.0)).toDF("id", "w")
    def kept(wCol: org.apache.spark.sql.Column): Set[Long] =
      graft.operators.Sampling.weightedSample(
        docs.withColumn("w2", wCol), "id", "w2", "s1")
        .select("id").as[Long].collect().toSet
    assert(kept(lit(0.0)).isEmpty)
    assert(kept(lit(1.0)).size == 300)
    // per-row monotonicity: raising every weight can only ADD members
    val low = kept($"w" * 0.5)
    val high = kept($"w")
    assert(low.subsetOf(high))
  }

  test("xlsx writer/reader round-trips randomized content (unicode, specials, gaps)") {
    val cellGen: Gen[Any] = Gen.oneOf(
      Gen.oneOf[Any](null, "", " lead", "tail ", "<&>\"'", "héllo wörld", "日本語テキスト"),
      Gen.alphaNumStr.map(_.take(12): Any),
      Gen.choose(-1000000, 1000000).map(v => v: Any))
    val rowGen = Gen.listOfN(6, cellGen)
    forAllSamples(Gen.listOfN(8, rowGen), 3) { rows =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_xlsx_fuzz")
        .resolve("f.xlsx").toString
      val all: Seq[Seq[Any]] = Seq.fill(6)("h").asInstanceOf[Seq[Any]] +: rows
      graft.sources.Xlsx.write(tmp, Seq("S" -> all))
      val back = graft.sources.Xlsx.readRows(tmp, "S").drop(1)
      rows.zipWithIndex.foreach { case (expected, i) =>
        val got = back.lift(i).getOrElse(Seq.empty)
        expected.zipWithIndex.foreach { case (cell, j) =>
          val gotCell = got.lift(j).flatten
          cell match {
            case null => assert(gotCell.isEmpty, s"row $i col $j: expected absent, got $gotCell")
            case s: String => assert(gotCell.contains(s), s"row $i col $j: $cell vs $gotCell")
            case n => assert(gotCell.contains(n.toString), s"row $i col $j: $cell vs $gotCell")
          }
        }
      }
    }
  }

  test("dedupSpans invariant: a corpus with no repeated spans rebuilds byte-exactly") {
    val wordGen = Gen.choose(0, 20).map(i => s"w$i")
    val docGen = Gen.listOfN(25, wordGen).map(_.mkString(" "))
    forAllSamples(Gen.listOfN(6, docGen), 3) { texts =>
      // make every doc's spans globally unique by prefixing the doc id into
      // every 40-char window (doc id occupies the first chars of each doc)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, s"uniq$i$i$i $t") }.toDF("doc_id", "text")
      val out = graft.operators.Dedup.dedupSpans(docs, "doc_id", "text", 4000)
        .collect().map(r => r.getAs[Long]("sid") -> r.getAs[String]("text_md5")).toMap
      // spanLen >= text length -> one span per doc; no cross-doc repeats by
      // construction -> every doc survives whole
      val expect = texts.zipWithIndex.map { case (t, i) =>
        val full = s"uniq$i$i$i $t"
        i.toLong -> java.security.MessageDigest.getInstance("MD5")
          .digest(full.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }.toMap
      assert(out == expect)
    }
  }

  test("scd2 invariant: validity ranges tile each key's timeline without gaps") {
    val attrGen = Gen.oneOf("A", "B", "C")
    forAllSamples(Gen.listOfN(30, attrGen), 3) { attrs =>
      val rows = attrs.zipWithIndex.map { case (a, t) => (1L, t, a) }
      val out = graft.operators.EtlOps.scd2(
        rows.toDF("k", "t", "attr"), "k", Seq("t"), Seq("attr"))
        .orderBy($"valid_from")
        .collect().map(r => (r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getInt(3)), r.getBoolean(4)))
      // first range starts at the first snapshot; each valid_to is the next
      // range's valid_from; exactly one open (current) range at the end
      assert(out.head._1 == 0)
      out.sliding(2).foreach {
        case Array((_, Some(to), _), (from, _, _)) => assert(to == from)
        case _ =>
      }
      assert(out.count(_._3) == 1 && out.last._2.isEmpty)
    }
  }

  test("snapshotDiff invariant: applying the diff to OLD reproduces NEW") {
    val stGen = Gen.oneOf("x", "y", "z")
    forAllSamples(
      Gen.zip(Gen.listOfN(40, stGen), Gen.listOfN(40, stGen)), 3) {
      case (oldVs, newVs) =>
        // keys 0..39 in old; new keeps evens, mutates values, adds 100..104
        val oldT = oldVs.zipWithIndex.map { case (v, k) => (k.toLong, v) }
        val newT = newVs.zipWithIndex.collect {
          case (v, k) if k % 2 == 0 => (k.toLong, v)
        } ++ (100L to 104L).map(k => (k, "n"))
        val diff = graft.operators.EtlOps.snapshotDiff(
          oldT.toDF("k", "v"), newT.toDF("k", "v"), Seq("k"), Seq("v"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        val applied = (oldT.toMap
          -- diff.collect { case ("D", k, _) => k }
          ++ diff.collect { case (op, k, v) if op != "D" => k -> v })
        assert(applied == newT.toMap)
    }
  }

  test("sampling invariants: nested rates nest, splits partition, salts independent") {
    forAllSamples(Gen.choose(1, 1000), 3) { seedIds =>
      val ids = (1L to 400L).map(i => Tuple1(i * seedIds)).toDF("id")
      val lo = graft.operators.Sampling.hashSample(ids, "id", 0.1, "x")
        .as[Long].collect().toSet
      val hi = graft.operators.Sampling.hashSample(ids, "id", 0.4, "x")
        .as[Long].collect().toSet
      assert(lo.subsetOf(hi)) // a lower rate is a SUBSET of a higher rate
      val splits = graft.operators.Sampling.splitAssign(ids, "id",
        Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), "y")
      assert(splits.count() == 400 && splits.select("split").distinct().count() <= 3)
    }
  }

  /** Independent single-threaded BPE reference: word-frequency table, pair
    * counts with overlap, argmax merge with (count desc, pair asc)
    * tie-break, greedy left-to-right application.
    */
  private def naiveBpe(corpus: Seq[String], rounds: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var dry = false
    while (r < rounds && !dry) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (pc.isEmpty) dry = true
      else {
        val ((l, rt), c) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((l, rt, c))
        words = words.map { case (syms, f) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { x =>
            if (acc.nonEmpty && acc.last == l && x == rt)
              acc(acc.length - 1) = l + rt
            else acc += x
          }
          acc.toVector -> f
        }.groupBy(_._1).map { case (k, vs) => k -> vs.values.sum }
      }
      r += 1
    }
    out.toSeq
  }

  test("dHash over arbitrary BMP dims equals an independent reference (padding-sensitive)") {
    // random widths exercise 3w % 4 != 0 row padding in BOTH the source
    // parse and the resize re-emit — the class of bug a fixed 32x32
    // fixture can never catch
    val dimGen = for {
      w <- Gen.choose(8, 37)
      h <- Gen.choose(8, 29)
      seed <- Gen.choose(0, 1 << 20)
    } yield (w, h, seed)
    forAllSamples(dimGen, 25) { case (w, h, seed) =>
      val inRow = ((3 * w + 3) / 4) * 4
      val pix = Array.tabulate(inRow * h) { i =>
        ((seed + i * 31 + (i / inRow) * 7) % 256).toByte
      }
      val bmp = graft.operators.Multimodal.bmpBytes(w, h, pix)
      // independent reference: nearest-neighbor sample + channel sum +
      // gradient bits, straight off the SOURCE pixel array
      def gray(rx: Int, ry: Int): Int = {
        val sx = (rx.toLong * w / 8).toInt
        val sy = (ry.toLong * h / 8).toInt
        val o = sy * inRow + sx * 3
        (pix(o) & 0xff) + (pix(o + 1) & 0xff) + (pix(o + 2) & 0xff)
      }
      var want = 0L
      for (ry <- 0 until 8; rx <- 0 until 7)
        if (gray(rx + 1, ry) > gray(rx, ry)) want |= 1L << (ry * 7 + rx)
      assert(graft.operators.Multimodal.dHashBmp(bmp) == want,
        s"w=$w h=$h seed=$seed")
    }
  }

  test("audioEnergyHash over arbitrary sample counts equals an independent reference") {
    // random (possibly frame-unaligned, negative-sample) PCM exercises the
    // integer frame partition floor(j*49/n), the signed little-endian
    // sample decode, and the |amplitude| energy — the classes of bug the
    // fixed 40-samples-per-frame fixture can never catch
    val caseGen = for {
      n <- Gen.choose(1, 400)
      seed <- Gen.choose(0, 1 << 20)
    } yield (n, seed)
    forAllSamples(caseGen, 25) { case (n, seed) =>
      val samples = Array.tabulate(n)(j => ((seed + j * 2654435761L) % 65536 - 32768).toShort)
      val payload = new Array[Byte](2 * n)
      samples.zipWithIndex.foreach { case (s, j) =>
        payload(2 * j) = (s & 0xff).toByte
        payload(2 * j + 1) = ((s >> 8) & 0xff).toByte
      }
      val wav = graft.operators.Multimodal.wavBytes(8000, 1, payload)
      // independent reference straight off the sample array
      val energies = new Array[Long](49)
      samples.zipWithIndex.foreach { case (s, j) =>
        energies(((j.toLong * 49) / n).toInt) += math.abs(s.toLong)
      }
      var want = 0L
      for (f <- 0 until 48) if (energies(f + 1) > energies(f)) want |= 1L << f
      assert(graft.operators.Multimodal.audioEnergyHash(wav) == want,
        s"n=$n seed=$seed")
    }
  }

  test("distributed BPE training equals the independent single-threaded reference") {
    val wordGen = Gen.listOfN(6, Gen.oneOf("ab", "aab", "abab", "ba", "aaa",
      "abc", "cab", "bcbc", "aa", "b"))
    forAllSamples(Gen.listOfN(5, wordGen.map(_.mkString(" "))), 6) { docs =>
      val want = naiveBpe(docs, 4)
      val got = graft.operators.TextOps
        .bpeMerges(docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", rounds = 4)
        .orderBy($"rank")
        .select($"lft", $"rgt", $"pair_freq")
        .as[(String, String, Long)].collect().toSeq
      assert(got == want, s"docs=$docs\n got=$got\nwant=$want")
    }
  }

  test("KMV merge property: union sketch equals direct bottom-k on random sets") {
    import graft.operators.ApproxOps
    val setGen = for {
      na <- Gen.choose(5, 400)
      nb <- Gen.choose(5, 400)
      offset <- Gen.choose(0, 300)
    } yield (na, nb, offset)
    forAllSamples(setGen, 4) { case (na, nb, offset) =>
      val a = (0 until na).map(i => Tuple1(s"v_$i")).toDF("v")
      val b = (offset until offset + nb).map(i => Tuple1(s"v_$i")).toDF("v")
      val merged = ApproxOps.kmvUnionIntersect(a, b, "v", k = 32)
        .collect()(0).getAs[Double]("n_union_est")
      val direct = ApproxOps.kmvDistinctByKey(
        a.unionByName(b).select(lit("u").as("k"), $"v"), "k", "v", 32)
        .collect()(0).getAs[Double]("kmv_est")
      assert(merged == direct, s"na=$na nb=$nb off=$offset: $merged != $direct")
      // small unions are EXACT
      val trueUnion = ((0 until na) ++ (offset until offset + nb)).distinct.size
      if (trueUnion < 32) assert(merged == trueUnion.toDouble)
    }
  }

  test("native KMV aggregate equals the relational distinct + rank-window form") {
    import graft.operators.ApproxOps
    val rowGen = Gen.listOfN(300, for {
      key <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0, 150).map(i => s"tok_$i")
    } yield (key, v))
    forAllSamples(rowGen, 4) { rows =>
      val df = rows.toDF("k", "v")
      def m(out: org.apache.spark.sql.DataFrame) = out
        .select($"k", $"sketch_size", $"kmv_est")
        .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      // k = 16 exercises BOTH regimes (some keys under, some over)
      assert(m(ApproxOps.kmvDistinctByKeyNative(df, "k", "v", 16)) ==
        m(ApproxOps.kmvDistinctByKey(df, "k", "v", 16)))
    }
  }

  test("cluster split property: random cluster graphs never straddle splits") {
    import graft.operators.Sampling
    val genCase = for {
      nDocs <- Gen.choose(50, 200)
      nClusters <- Gen.choose(1, 8)
      assignSeed <- Gen.choose(0, 1 << 20)
    } yield (nDocs, nClusters, assignSeed)
    forAllSamples(genCase, 4) { case (nDocs, nClusters, seed) =>
      val docs = (1L to nDocs.toLong).map(Tuple1(_)).toDF("id")
      // pseudo-random cluster membership: ~half the docs carry a label
      val members = (1L to nDocs.toLong)
        .filter(i => (i * 31 + seed) % 2 == 0)
        .map(i => (i, ((i * 17 + seed) % nClusters) + 1000L))
      val labels = members.toDF("sid", "component")
      val out = Sampling.splitAssignByCluster(docs, "id", labels,
        "sid", "component",
        Seq("train" -> 0.7, "val" -> 0.15, "test" -> 0.15), "px")
        .select($"id", $"split").as[(Long, String)].collect().toMap
      assert(out.size == nDocs) // total: every doc assigned exactly once
      members.groupBy(_._2).foreach { case (c, ms) =>
        assert(ms.map(m => out(m._1)).toSet.size == 1, s"cluster $c straddles")
      }
    }
  }

  test("windowed heavy hitters property: lossless sketch equals exact per-window top-N") {
    import graft.operators.HeavyHitters
    val evGen = Gen.listOfN(120, for {
      hour <- Gen.choose(0, 5)
      v <- Gen.oneOf("a", "b", "c", "d", "e")
    } yield (hour, v))
    forAllSamples(evGen, 3) { evs =>
      val df = evs.zipWithIndex.map { case ((h, v), i) =>
        (i.toLong, new java.sql.Timestamp(1704067200000L + h * 3600000L), v)
      }.toDF("event_id", "ts", "v")
      val got = HeavyHitters.topValuesByWindow(df, "ts", "v", "1 hour", 16, 3)
        .select($"window_start", $"value", $"freq", $"rank")
        .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
      // independent exact recompute: count per (hour, value), rank by
      // (freq desc, value asc), keep top 3
      val want = evs.groupBy(identity).map { case ((h, v), xs) =>
        (h, v, xs.size.toLong) }.toSeq
        .groupBy(_._1).flatMap { case (h, rows) =>
          rows.sortBy { case (_, v, f) => (-f, v) }.zipWithIndex
            .take(3).map { case ((_, v, f), i) =>
              (new java.sql.Timestamp(1704067200000L + h * 3600000L),
                v, f, i + 1L) }
        }.toSet
      assert(got == want, s"\ngot=$got\nwant=$want")
    }
  }

  test("batched BPE at K=1 degrades to exact argmax BPE on arbitrary corpora") {
    // the batched trainer is a SEPARATE implementation (one-pass multi-merge
    // sweeps); at batchK = 1 it must equal both the exact trainer and the
    // single-threaded reference on random inputs, tie-breaks included
    val wordGen = Gen.listOfN(6, Gen.oneOf("ab", "aab", "abab", "ba", "aaa",
      "abc", "cab", "bcbc", "aa", "b"))
    forAllSamples(Gen.listOfN(5, wordGen.map(_.mkString(" "))), 4) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val want = naiveBpe(docs, 4)
      val got = graft.operators.TextOps
        .bpeMergesBatched(df, "text", rounds = 4, batchK = 1)
        .orderBy($"rank")
        .select($"lft", $"rgt", $"pair_freq")
        .as[(String, String, Long)].collect().toSeq
      assert(got == want, s"docs=$docs\n got=$got\nwant=$want")
    }
  }

  test("Aho-Corasick automaton equals naive position-scan counting on arbitrary inputs") {
    val textGen: Gen[String] = Gen.listOfN(60,
      Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
    val patsGen: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.choose(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)))
      .map(_.distinct.take(6))
    forAllSamples(Gen.zip(textGen, patsGen), 300) { case (text, pats) =>
      val auto = new graft.plans.AhoCorasickCount.Automaton(pats)
      val got = auto.counts(text).toSeq
      val want = pats.map { p =>
        (0 to text.length - p.length)
          .count(i => text.regionMatches(i, p, 0, p.length)).toLong
      }
      assert(got == want, s"text='$text' pats=$pats: $got != $want")
    }
  }

  test("native CMS aggregate equals the driver-recomputed matrix; estimates never undercount") {
    val itemsGen: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.choose(0, 30).map(i => s"w$i")).map(_.take(300))
    val (w, d) = (16, 3)
    forAllSamples(itemsGen, 8) { items =>
      val sk = items.toDF("item")
        .agg(graft.plans.GraftFunctions.countMin(col("item"), w, d))
        .head.getSeq[scala.collection.Seq[Long]](0).map(_.toList)
      // independent reference: fold md5-slice positions on the driver
      val ref = Array.fill(d, w)(0L)
      items.foreach { it =>
        val h = graft.plans.Md5PrefixLong.prefix(it.getBytes("UTF-8"), 6)
        (0 until d).foreach(j => ref(j)((((h >>> (16 * j)) & 0xffffL) % w).toInt) += 1L)
      }
      assert(sk.map(_.toList) == ref.map(_.toList).toSeq)
      // one-sided guarantee for every distinct item
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
      exact.foreach { case (it, n) =>
        val h = graft.plans.Md5PrefixLong.prefix(it.getBytes("UTF-8"), 6)
        val est = (0 until d).map(j =>
          sk(j)((((h >>> (16 * j)) & 0xffffL) % w).toInt)).min
        assert(est >= n, s"$it: est $est < exact $n")
      }
    }
  }

  private val corpusGen: Gen[List[(Long, String)]] = for {
    nDocs <- Gen.choose(3, 10)
    docs <- Gen.listOfN(nDocs,
      Gen.listOfN(12, Gen.choose(0, 8).map(i => s"w$i")).map(_.mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("novelty properties: bounds, gram-credit conservation, id-shift invariance") {
    forAllSamples(corpusGen, 5) { docs =>
      val df = docs.toDF("doc_id", "text")
      val out = graft.operators.Dedup.ngramNovelty(df, "doc_id", "text", 3)
        .collect().map(r => r.getAs[Long]("sid") ->
          ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel")))).toMap
      // bounds: 0 <= n_novel <= n_grams per doc
      out.values.foreach { case (ng, nn) => assert(nn >= 0 && nn <= ng) }
      // conservation: every distinct gram credited exactly once corpus-wide
      val distinctGrams = graft.operators.Dedup
        .wordShingles(df, "doc_id", "text", 3)
        .select("gram").distinct().count()
      assert(out.values.map(_._2).sum == distinctGrams)
      // shifting every id by a constant preserves all (n_grams, n_novel):
      // novelty depends on id ORDER, not id values
      val shifted = graft.operators.Dedup.ngramNovelty(
          docs.map { case (i, t) => (i + 1000L, t) }.toDF("doc_id", "text"),
          "doc_id", "text", 3)
        .collect().map(r => (r.getAs[Long]("sid") - 1000L) ->
          ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel")))).toMap
      assert(shifted == out)
    }
  }

  test("containment properties: C <= 1, bounded by the smaller gram set, subset scores 1") {
    forAllSamples(corpusGen, 4) { docs =>
      val df = docs.toDF("doc_id", "text")
      val pairs = graft.operators.Dedup.containmentPairs(
          df, "doc_id", "text", n = 3, k = 8, w = 10,
          minShared = 1L, threshold = 0.0)
        .collect()
      pairs.foreach { r =>
        val (ni, na, nb, c) = (r.getAs[Long]("n_inter"), r.getAs[Long]("nsh_a"),
          r.getAs[Long]("nsh_b"), r.getAs[Double]("containment"))
        assert(ni <= math.min(na, nb), r.toString)
        assert(c >= 0.0 && c <= 1.0, r.toString)
        assert(c == ni.toDouble / math.min(na, nb), r.toString)
      }
      // a verbatim prefix copy (a strict gram subset) must score exactly 1
      val base = docs.head._2
      val sub = base.split(" ").take(7).mkString(" ")
      val planted = Seq((900L, base + " tail0 tail1 tail2"), (901L, sub))
        .toDF("doc_id", "text")
      val hit = graft.operators.Dedup.containmentPairs(
          planted, "doc_id", "text", 3, 8, 10, 1L, 0.0)
        .filter(col("ida") === 900L && col("idb") === 901L).collect()
      assert(hit.length == 1 && hit(0).getAs[Double]("containment") == 1.0,
        s"subset must score containment 1: ${hit.mkString}")
    }
  }

  private val scoredGen: Gen[List[(String, Boolean, Long)]] = for {
    n <- Gen.choose(6, 40)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b")
      y <- Gen.oneOf(true, false)
      s <- Gen.choose(-20L, 20L)
    } yield (g, y, s))
  } yield rows

  test("rocAuc properties: monotone-transform and bucket-count invariance, bounds") {
    forAllSamples(scoredGen, 4) { rows =>
      val df = rows.toDF("g", "y", "s")
      def auc(d: org.apache.spark.sql.DataFrame, buckets: Int) =
        graft.operators.Quality.rocAuc(d, "g", "y", "s", buckets).collect()
          .map(r => r.getString(0) -> ((r.getAs[Long]("pos"),
            r.getAs[Long]("neg"), r.getDecimal(3).longValueExact,
            r.getDecimal(4).longValueExact))).toMap
      val base = auc(df, 4)
      // AUC is a rank statistic: any strictly increasing score map (here
      // s -> 7s + 3) must leave every output integer unchanged
      assert(auc(df.withColumn("s", $"s" * 7L + 3L), 4) == base)
      // the two-level decomposition is internal: bucket count never shows
      assert(auc(df, 1) == base && auc(df, 16) == base)
      base.values.foreach { case (p, n, num, den) =>
        assert(num >= 0 && num <= den.max(0L) || n == 0 || p == 0,
          s"AUC in [0,1]: $num/$den")
        assert(den == 2 * p * n)
      }
    }
  }

  test("pageRank properties: mass never exceeds the initial total, base is the floor") {
    val edgeGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 25)
      es <- Gen.listOfN(n, for {
        a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L)
      } yield (a, b))
    } yield es.filter(e => e._1 != e._2)
    forAllSamples(edgeGen, 3) { es =>
      val edges = es.toDF("src", "dst")
      val nodes = (1L to 12L).toDF("sid")
      val r = graft.operators.GraphOps.pageRank(edges, nodes, "sid", iters = 3)
        .as[(Long, Long)].collect()
      assert(r.length == 12)
      // damping + floor divisions only ever LOSE mass vs the N·unit start
      assert(r.map(_._2).sum <= 12L * 1000000L)
      assert(r.map(_._2).min >= 150000L, "teleport base is the floor")
    }
  }

  test("chrF properties: score and matches bounded, self-pair scores exactly 1") {
    forAllSamples(corpusGen, 3) { docs =>
      val df = docs.toDF("doc_id", "text")
      val self = graft.operators.TextOps.chrF(df, df, "doc_id", "text", 4)
        .collect()
      self.foreach { r =>
        assert(r.getAs[Long]("f_fp") == 1000000L, s"self-chrF must be 1: $r")
        assert(r.getAs[Long]("matches") == r.getAs[Long]("cand_total"))
      }
      val cross = graft.operators.TextOps.chrF(
          df, df.withColumn("text", reverse(col("text"))), "doc_id", "text", 4)
        .collect()
      cross.foreach { r =>
        val (m, tc, tr, f) = (r.getAs[Long]("matches"), r.getAs[Long]("cand_total"),
          r.getAs[Long]("ref_total"), r.getAs[Long]("f_fp"))
        assert(m <= math.min(tc, tr) && f >= 0L && f <= 1000000L, r.toString)
      }
    }
  }

  test("chrF kernel vs independent Scala twin: identical stats on random + unicode pairs") {
    // pins graft.plans.ChrfStatsLong (the r19 join-first chrF — no gram
    // shuffle) to an independent plain-Scala clipped-count formulation of
    // the same statistic the retired relational form computed
    def twin(cand: String, ref: String, maxOrder: Int)
        : Map[Long, (Long, Long, Long)] = {
      def strip(s: String): Array[Int] =
        s.codePoints().toArray.filterNot(cp =>
          cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r')
      val c = strip(cand); val r = strip(ref)
      (1 to maxOrder).flatMap { n =>
        if (c.length < n || r.length < n) None
        else {
          def grams(a: Array[Int]) = a.sliding(n).map(_.toSeq).toSeq
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val cg = grams(c); val rg = grams(r)
          val m = cg.map { case (g, cc) => math.min(cc, rg.getOrElse(g, 0L)) }.sum
          Some(n.toLong -> ((m, (c.length - n + 1).toLong, (r.length - n + 1).toLong)))
        }
      }.toMap
    }
    // code-point-safe pieces (never split a surrogate pair): the 😀
    // alphabet exercises supplementary-plane gram positions end to end
    val pairGen: Gen[(String, String)] = for {
      alphabet <- Gen.oneOf(Seq("a", "b"), Seq("a", "b", "c"),
        Seq("a", "b", " ", "\t", "\n"), Seq("é", "漢", "😀", "a", " "))
      c <- Gen.listOfN(20, Gen.oneOf(alphabet)).map(_.mkString)
      r <- Gen.listOfN(16, Gen.oneOf(alphabet)).map(_.mkString)
    } yield (c, r)
    forAllSamples(pairGen, 8) { case (c, r) =>
      val got = graft.operators.TextOps.chrF(
          Seq((1L, c)).toDF("id", "text"), Seq((1L, r)).toDF("id", "text"),
          "id", "text", 4)
        .collect().map(row => row.getAs[Long]("ord") ->
          ((row.getAs[Long]("matches"), row.getAs[Long]("cand_total"),
            row.getAs[Long]("ref_total")))).toMap
      assert(got == twin(c, r, 4), s"cand=$c ref=$r")
    }
  }

  test("wordSetCount kernel vs the HOF filter formulation: identical counts") {
    // pins graft.plans.WordSetCountLong (the r19 stopword/marker counter)
    // to the exact size(filter(split(text,' '), isin)) it replaced —
    // including empty tokens from doubled/leading/trailing spaces and
    // multi-byte (zh marker) words
    val textGen: Gen[String] = for {
      words <- Gen.listOfN(15, Gen.oneOf(
        "the", "und", "la", "的", "xray", "", "a", "thee", "lo", "是"))
    } yield words.mkString(" ")
    forAllSamples(textGen, 8) { t =>
      val sets = Seq(graft.operators.TextOps.stopwords) ++
        graft.operators.TextOps.langMarkers.map(_._2)
      sets.foreach { set =>
        val df = Seq(Tuple1(t)).toDF("text")
        val kernel = df.select(
          graft.plans.WordSetCountLong.wordSetCount($"text", set)).head().getLong(0)
        val hof = df.select(size(filter(split($"text", " "),
          w => w.isin(set.map(lit(_)): _*))).cast("long")).head().getLong(0)
        assert(kernel == hof, s"set=$set text='$t'")
      }
    }
  }

  test("shingleHashes kernel vs wordShingles+hash48: identical multisets") {
    // pins graft.plans.ShingleHashesLong (the r19 fused distinct-shingle
    // hasher) to the composed relational form it replaced — including
    // repeated grams (distinct by content), empty tokens from doubled
    // spaces, and docs shorter than n
    val docGen: Gen[String] = for {
      words <- Gen.listOfN(14, Gen.oneOf("w0", "w1", "w2", "", "é漢"))
    } yield words.mkString(" ")
    forAllSamples(docGen, 8) { t =>
      Seq(1, 2, 3).foreach { n =>
        val df = Seq((1L, t)).toDF("doc_id", "text")
        val kernel = graft.operators.Dedup
          .wordShingleHashes(df, "doc_id", "text", n)
          .select($"g").as[Long].collect().sorted.toSeq
        val composed = graft.operators.Dedup
          .wordShingles(df, "doc_id", "text", n)
          .select(graft.operators.Dedup.hash48($"gram")).as[Long]
          .collect().sorted.toSeq
        assert(kernel == composed, s"n=$n text='$t'")
        val kernelAll = graft.operators.Dedup
          .wordShingleHashesAll(df, "doc_id", "text", n)
          .select($"g").as[Long].collect().toSeq
        val composedAll = graft.operators.Dedup
          .wordShinglesAll(df, "doc_id", "text", n)
          .select(graft.operators.Dedup.hash48($"gram")).as[Long]
          .collect().toSeq
        assert(kernelAll == composedAll, s"all-variant n=$n text='$t'")
      }
    }
  }

  test("wordGramStats kernel vs independent Scala twin: identical stats on random word pairs") {
    // pins graft.plans.WordGramStatsLong (the r19 join-first BLEU/ROUGE
    // counting core) to an independent plain-Scala clipped-count twin of
    // the retired (id, ord, gram) relational form — repeated words, empty
    // tokens from doubled spaces, and length-skewed pairs included
    def twin(cand: String, ref: String, maxOrder: Int)
        : Map[Long, (Long, Long, Long)] = {
      val c = cand.split(" ", -1).toSeq
      val r = ref.split(" ", -1).toSeq
      (1 to maxOrder).flatMap { n =>
        if (c.length < n || r.length < n) None
        else {
          def grams(w: Seq[String]) = w.sliding(n).map(_.mkString(" ")).toSeq
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val cg = grams(c); val rg = grams(r)
          val m = cg.map { case (g, cc) => math.min(cc, rg.getOrElse(g, 0L)) }.sum
          Some(n.toLong -> ((m, (c.length - n + 1).toLong, (r.length - n + 1).toLong)))
        }
      }.toMap
    }
    val pairGen: Gen[(String, String)] = for {
      nc <- Gen.choose(1, 18)
      nr <- Gen.choose(1, 14)
      c <- Gen.listOfN(nc, Gen.oneOf("w0", "w1", "w2", "", "é漢"))
      r <- Gen.listOfN(nr, Gen.oneOf("w0", "w1", "w2", "", "é漢"))
    } yield (c.mkString(" "), r.mkString(" "))
    forAllSamples(pairGen, 8) { case (c, r) =>
      val got = graft.operators.TextOps.ngramOverlapEval(
          Seq((1L, c)).toDF("id", "text"), Seq((1L, r)).toDF("id", "text"),
          "id", "text", 4)
        .collect().map(row => row.getAs[Long]("ord") ->
          ((row.getAs[Long]("matches"), row.getAs[Long]("cand_total"),
            row.getAs[Long]("ref_total")))).toMap
      assert(got == twin(c, r, 4), s"cand='$c' ref='$r'")
    }
  }

  test("ngramRows kernel vs the HOF fan-out: identical (ord, gram, prev) multisets") {
    // pins graft.plans.NgramRowsLong (the r19 LM-counting fan-out) to the
    // retired flatten(transform(filter(...))) formulation — all orders,
    // document-start null prev, empty tokens, multi-byte words
    val docGen: Gen[String] = for {
      words <- Gen.listOfN(9, Gen.oneOf("a", "bb", "", "é漢", "a"))
    } yield words.mkString(" ")
    forAllSamples(docGen, 8) { t =>
      val df = Seq(Tuple1(t)).toDF("text")
      val kernel = df.select(inline(
          graft.plans.NgramRowsLong.ngramRows($"text", 3)))
        .as[(Long, String, Option[String])].collect().sorted.toSeq
      val w = split($"text", " ")
      val hof = df.select(explode(flatten(transform(
          sequence(lit(1), lit(3)), n => transform(
            filter(sequence(lit(1), size(w)), i => i <= size(w) - n + 1),
            i => struct(n.cast("long").as("ord"),
              concat_ws(" ", slice(w, i, n)).as("gram"),
              when(i >= 2, element_at(w, i - 1)).as("prev")))))).as("r"))
        .select($"r.ord", $"r.gram", $"r.prev")
        .as[(Long, String, Option[String])].collect().sorted.toSeq
      assert(kernel == hof, s"text='$t'")
    }
  }

  test("wordWindows kernel vs the HOF window fan-out: identical ordered lists") {
    // pins graft.plans.WordWindowsLong (the r20 LM-scoring fan-out) to the
    // retired transform(sequence(...), i -> array_join(slice(w, i, n), " "))
    // formulation — every order 1..4, empty tokens, multi-byte words,
    // under-length docs (empty array), and the empty string (one empty token)
    val docGen: Gen[String] = for {
      k <- Gen.choose(0, 9)
      words <- Gen.listOfN(k, Gen.oneOf("a", "bb", "", "é漢", "a"))
    } yield words.mkString(" ")
    forAllSamples(docGen, 8) { t =>
      val df = Seq(Tuple1(t)).toDF("text")
      (1 to 4).foreach { n =>
        val kernel = df.select(
            graft.plans.WordWindowsLong.wordWindows($"text", n).as("g"))
          .as[Seq[String]].collect().head
        val w = split($"text", " ")
        val hof = df.select(coalesce(when(size(w) >= n,
            transform(sequence(lit(1), size(w) - (n - 1)),
              i => array_join(slice(w, i, lit(n)), " "))),
            array().cast("array<string>")).as("g"))
          .as[Seq[String]].collect().head
        assert(kernel == hof, s"text='$t' n=$n")
      }
    }
  }

  test("rankCells kernel vs the HOF sort formulation: identical rankings") {
    // pins graft.plans.RankCellsLong (the r19 IVF inner loop) to the
    // retired array_sort(transform(...), cmp) form — cosine ties, zero-norm
    // vectors (-Inf rank, NULLS LAST) and cid tiebreaks included
    val vecGen: Gen[(Seq[Seq[Long]], Seq[Long])] = for {
      dim <- Gen.choose(2, 4)
      nCells <- Gen.choose(1, 6)
      cells <- Gen.listOfN(nCells,
        Gen.listOfN(dim, Gen.choose(-2L, 2L)).map(_.toSeq))
      q <- Gen.listOfN(dim, Gen.choose(-2L, 2L)).map(_.toSeq)
    } yield (cells.toSeq, q)
    forAllSamples(vecGen, 8) { case (cellVecs, q) =>
      val cents = cellVecs.zipWithIndex
        .map { case (cv, i) => (i.toLong, cv) }.toDF("cid", "cv")
        .withColumn("cnrm",
          sqrt(graft.plans.GraftFunctions.dotLong($"cv", $"cv").cast("double")))
      val packed = cents.agg(collect_list(struct($"cid", $"cv", $"cnrm")).as("cells"))
      val v = Seq((1L, q)).toDF("sid", "qv")
        .withColumn("nrm",
          sqrt(graft.plans.GraftFunctions.dotLong($"qv", $"qv").cast("double")))
      def run(rank: org.apache.spark.sql.DataFrame) = rank
        .select(explode($"cellrank").as("r"))
        .select($"r.ccos", $"r.cid").as[(Double, Long)].collect().toSeq
      val kernel = run(v.crossJoin(broadcast(packed)).select(
        graft.plans.RankCellsLong.rankCells($"qv", $"nrm", $"cells").as("cellrank")))
      val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        graft.plans.GraftFunctions.dotLong(a, b)
      val hof = run(v.crossJoin(broadcast(packed)).select(
        array_sort(
          transform($"cells", c => struct(
            coalesce(dot($"qv", c("cv")).cast("double") /
              nullif($"nrm" * c("cnrm"), lit(0.0)),
              lit(Double.NegativeInfinity)).as("ccos"),
            c("cid").as("cid"))),
          (l, r) => when(l("ccos") > r("ccos"), -1)
            .when(l("ccos") < r("ccos"), 1)
            .when(l("cid") < r("cid"), -1)
            .when(l("cid") > r("cid"), 1)
            .otherwise(0)).as("cellrank")))
      assert(kernel == hof, s"cells=$cellVecs q=$q")
    }
  }

  test("pqLut kernel vs the nested HOF formulation: identical ADC tables") {
    // pins graft.plans.PqLutLong (the r19 serve-path LUT) to the retired
    // transform(sequence, transform(cb, subD2(slice))) form on random
    // vectors and codebooks
    val gen: Gen[(Seq[Long], Seq[Seq[Seq[Long]]])] = for {
      m <- Gen.oneOf(1, 2, 4)
      sub = 8 / m
      vec <- Gen.listOfN(8, Gen.choose(-3L, 3L)).map(_.toSeq)
      k <- Gen.choose(1, 4)
      cb <- Gen.listOfN(m, Gen.listOfN(k,
        Gen.listOfN(sub, Gen.choose(-3L, 3L)).map(_.toSeq)).map(_.toSeq))
    } yield (vec, cb.toSeq)
    forAllSamples(gen, 8) { case (vec, cb) =>
      val m = cb.length
      val df = Seq((vec, cb)).toDF("qv", "cb")
      val kernel = df.select(
          graft.plans.PqLutLong.pqLut($"qv", $"cb", 8, m).as("lut"))
        .as[Seq[Seq[Long]]].head()
      val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        graft.plans.GraftFunctions.dotLong(a, b)
      val hof = df.select(transform(sequence(lit(0), lit(m - 1)), mm =>
          transform(element_at($"cb", mm + 1), cc => {
            val a = slice($"qv", mm * (8 / m) + 1, lit(8 / m))
            dot(a, a) + dot(cc, cc) - lit(2L) * dot(a, cc)
          })).as("lut"))
        .as[Seq[Seq[Long]]].head()
      assert(kernel == hof, s"vec=$vec cb=$cb")
    }
  }

  test("quantize kernel vs round(x*scale): identical on adversarial doubles and floats") {
    // pins graft.plans.QuantizeLong to the exact transform+ROUND form it
    // replaced — HALF_UP ties (±.5 away from zero), values a hair under
    // .5 whose binary +0.5 would round wrong, negatives, nulls
    val adversarial: Seq[java.lang.Double] = Seq(
      0.0005, -0.0005, 0.0015, -0.0015, 0.00049999999999999994,
      -0.00049999999999999994, 1.0, -1.0, 0.0, 123.4567, -123.4567, null)
    val doubleGen: Gen[Seq[java.lang.Double]] = for {
      xs <- Gen.listOfN(10, Gen.choose(-5.0, 5.0))
    } yield (xs.map(java.lang.Double.valueOf) ++ adversarial).toSeq
    forAllSamples(doubleGen, 6) { xs =>
      val df = Seq(Tuple1(xs)).toDF("v")
      val kernel = df.select(graft.plans.QuantizeLong.quantize($"v", 1000))
        .as[Seq[Option[Long]]].head()
      val hof = df.select(transform($"v",
          x => round(x.cast("double") * 1000).cast("long")))
        .as[Seq[Option[Long]]].head()
      assert(kernel == hof, s"doubles $xs")
      // float path: same values narrowed
      val fs = xs.map(x => if (x == null) null
        else java.lang.Float.valueOf(x.floatValue))
      val dff = Seq(Tuple1(fs)).toDF("v")
      val kernelF = dff.select(graft.plans.QuantizeLong.quantize($"v", 1000))
        .as[Seq[Option[Long]]].head()
      val hofF = dff.select(transform($"v",
          x => round(x.cast("double") * 1000).cast("long")))
        .as[Seq[Option[Long]]].head()
      assert(kernelF == hofF, s"floats $fs")
    }
  }

  test("sq8Codes kernel vs the transform formulation: identical codes") {
    // pins graft.plans.Sq8CodesLong to the retired transform(vec, (x, i) =>
    // coalesce(round(...), 0.0).cast(long)) form — random finite doubles,
    // constant dimensions (hi == lo -> 0), inverted spans (hi < lo), null
    // elements (-> 0), rounding ties, and the float element path
    val gen: Gen[(Seq[java.lang.Double], Seq[Double], Seq[Double])] = for {
      n <- Gen.choose(1, 12)
      xs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-5.0, 5.0).map(java.lang.Double.valueOf),
        Gen.const(null: java.lang.Double)))
      los <- Gen.listOfN(n, Gen.choose(-5.0, 0.0))
      spans <- Gen.listOfN(n, Gen.oneOf(Gen.const(0.0), Gen.choose(0.1, 10.0),
        Gen.choose(-10.0, -0.1)))
    } yield (xs.toSeq, los.toSeq, los.zip(spans).map { case (l, s) => l + s }.toSeq)
    forAllSamples(gen, 6) { case (xs, los, his) =>
      val df = Seq((xs, los, his)).toDF("v", "lo", "hi")
      val kernel = df.select(
          graft.plans.Sq8CodesLong.sq8Codes($"v", $"lo", $"hi"))
        .as[Seq[Long]].head()
      val hof = df.select(transform($"v", (x, i) =>
          coalesce(
            round((x.cast("double") - element_at($"lo", i + 1)) * 255.0 /
              nullif(element_at($"hi", i + 1) - element_at($"lo", i + 1),
                lit(0.0))),
            lit(0.0)).cast("long")))
        .as[Seq[Long]].head()
      assert(kernel == hof, s"v=$xs lo=$los hi=$his")
      // float path: same values narrowed
      val fs = xs.map(x => if (x == null) null
        else java.lang.Float.valueOf(x.floatValue))
      val dff = Seq((fs, los, his)).toDF("v", "lo", "hi")
      val kernelF = dff.select(
          graft.plans.Sq8CodesLong.sq8Codes($"v", $"lo", $"hi"))
        .as[Seq[Long]].head()
      val hofF = dff.select(transform($"v", (x, i) =>
          coalesce(
            round((x.cast("double") - element_at($"lo", i + 1)) * 255.0 /
              nullif(element_at($"hi", i + 1) - element_at($"lo", i + 1),
                lit(0.0))),
            lit(0.0)).cast("long")))
        .as[Seq[Long]].head()
      assert(kernelF == hofF, s"floats v=$fs lo=$los hi=$his")
    }
  }

  test("sq8Codes kernel: a NULL lo or hi array yields NULL") {
    // the call is null-propagating: a NULL codebook array never reaches
    // the kernel (the retired transform form returned all-zero codes)
    val df = Seq((Seq(1.0, 2.0), Option.empty[Seq[Double]], Option(Seq(3.0, 4.0))))
      .toDF("v", "lo", "hi")
    val codes = df.select(
      graft.plans.Sq8CodesLong.sq8Codes($"v", $"lo", $"hi").as("a"),
      graft.plans.Sq8CodesLong.sq8Codes($"v", $"hi", $"lo").as("b")).head()
    assert(codes.isNullAt(0) && codes.isNullAt(1), codes)
  }

  test("langId kernel vs the five-markerScore when-chain: identical labels") {
    // pins graft.plans.LangIdLong (the r19 one-pass lang id) to the retired
    // formulation — five WordSetCountLong scores + the argmax CASE chain
    // with otherwise('zh') — on marker-dense texts, ties between adjacent
    // and non-adjacent languages, shared-marker tokens ("la" ∈ es AND fr),
    // multi-byte zh markers, empty strings, double spaces, and NULL text
    val markers = graft.operators.TextOps.langMarkers
    val allWords = markers.flatMap(_._2) ++ Seq("u1", "salad", "", "x")
    val textGen: Gen[String] = for {
      n <- Gen.choose(0, 24)
      ws <- Gen.listOfN(n, Gen.oneOf(allWords))
    } yield ws.mkString(" ")
    forAllSamples(Gen.listOfN(24, textGen), 3) { texts =>
      val rows = texts.map(Option(_)) ++ Seq(None, Some(""), Some("  "))
      val df = rows.toDF("text")
      val kernel = df
        .select(graft.operators.TextOps.langId($"text").as("p"))
        .as[String].collect().toSeq
      val scores = markers.map { case (_, ms) =>
        graft.plans.WordSetCountLong.wordSetCount($"text", ms)
      }
      val Seq(en, de, es, fr, zh) = scores
      val chain = df.select(
        when(en >= de && en >= es && en >= fr && en >= zh, "en")
          .when(de >= es && de >= fr && de >= zh, "de")
          .when(es >= fr && es >= zh, "es")
          .when(fr >= zh, "fr")
          .otherwise("zh").as("p"))
        .as[String].collect().toSeq
      assert(kernel == chain, s"texts=$rows")
    }
  }

  test("epochMix property: per-stratum copy totals equal the integer quotas for random shapes") {
    val mixGen: Gen[(Int, Int, Long)] = for {
      na <- Gen.choose(1, 30); nb <- Gen.choose(1, 30)
      total <- Gen.choose(2L, 200L)
    } yield (na, nb, total)
    forAllSamples(mixGen, 4) { case (na, nb, total) =>
      val df = ((1 to na).map(i => (i.toLong, "a")) ++
        (1 to nb).map(i => (100L + i, "b"))).toDF("doc_id", "s")
      val out = graft.operators.Sampling.epochMix(df, "doc_id", "s",
          Map("a" -> 3L, "b" -> 1L), total, salt = "pm")
        .select($"s", $"n_copies").as[(String, Long)].collect()
      val sums = out.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        .withDefaultValue(0L)
      assert(sums("a") == 3L * total / 4L && sums("b") == total / 4L,
        s"quotas not met exactly: $sums (na=$na nb=$nb total=$total)")
    }
  }

  /** Arbitrary URLs from a grammar wide enough to hit every
    * canonicalization rule: mixed-case schemes/hosts, default and explicit
    * ports, 0-3 path segments with 0-2 trailing slashes, shuffled
    * tracking + content params (with and without values), fragments —
    * plus the two scheme-less degradations (bare "host/..." crawl junk and
    * the "://host/..." degraded canonical form), which must fixpoint
    * rather than re-degrade (ADVICE r17 #1).
    */
  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http://", "HTTP://", "https://", "HTTPS://",
      "hTtPs://", "ftp://", "", "://")
    host <- Gen.oneOf("Example.COM", "a.b.example.org", "HOST7.net")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    segs <- Gen.choose(0, 3)
    path <- Gen.listOfN(segs, Gen.oneOf("Docs", "a", "x1", "UPPER"))
      .map(ps => if (ps.isEmpty) "" else ps.mkString("/", "/", ""))
    slashes <- Gen.oneOf("", "/", "//")
    params <- Gen.someOf("a=1", "b=2", "Z=9", "utm_source=x", "utm_c",
      "fbclid=abc", "gclid=7", "flag")
    frag <- Gen.oneOf("", "#top", "#Sec-2")
  } yield s"$scheme$host$port$path$slashes" +
    (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag

  test("URL canonicalization: idempotent, tracking-param and param-order insensitive") {
    forAllSamples(Gen.listOfN(24, urlGen), 4) { urls =>
      val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("id", "u")
      val canon = df.select($"id",
          graft.operators.UrlOps.canonicalizeUrl($"u").as("c"))
        .as[(Long, String)].collect().toMap
      // idempotence: canonicalize(canonicalize(u)) == canonicalize(u)
      val again = df.select($"id", graft.operators.UrlOps.canonicalizeUrl(
          graft.operators.UrlOps.canonicalizeUrl($"u")).as("c"))
        .as[(Long, String)].collect().toMap
      assert(again == canon, s"not idempotent on: ${urls.mkString(", ")}")
      // no canonical form retains a fragment or a tracking param
      canon.values.foreach { c =>
        assert(!c.contains("#") && !c.contains("utm_") &&
          !c.contains("fbclid") && !c.contains("gclid"), c)
      }
      // param ORDER insensitivity: reverse the query string's params
      val reversed = urls.zipWithIndex.map { case (u, i) =>
        val (pre, q) = u.indexOf('?') match {
          case -1 => (u, "")
          case at =>
            val frag = u.indexOf('#', at)
            if (frag == -1) (u.substring(0, at), u.substring(at + 1))
            else (u.substring(0, at) + u.substring(frag),
              u.substring(at + 1, frag))
        }
        val rev = if (q.isEmpty) pre else {
          val (head, tail) = pre.indexOf('#') match {
            case -1 => (pre, "")
            case f => (pre.substring(0, f), pre.substring(f))
          }
          head + "?" + q.split("&").reverse.mkString("&") + tail
        }
        (i.toLong, rev)
      }.toDF("id", "u")
      val revCanon = reversed.select($"id",
          graft.operators.UrlOps.canonicalizeUrl($"u").as("c"))
        .as[(Long, String)].collect().toMap
      assert(revCanon == canon, "param order leaked into the canonical form")
    }
  }

  test("paragraphDedup: rebuilt text is a fixpoint, counts consistent, order preserved") {
    val paraGen: Gen[(String, String)] = for {
      sep <- Gen.oneOf("|", "\n", " :: ")
      paras <- Gen.nonEmptyListOf(Gen.oneOf("a b", "a  b", " a b ", "c",
        "A b", "", "d e f")).map(_.take(8))
    } yield (paras.mkString(sep), sep)
    forAllSamples(Gen.listOfN(16, paraGen), 3) { docs =>
      docs.groupBy(_._2).foreach { case (sep, group) =>
        val df = group.zipWithIndex
          .map { case ((t, _), i) => (i.toLong, t) }.toDF("doc_id", "text")
        val out = graft.operators.TextOps
          .paragraphDedup(df, "doc_id", "text", sep)
          .collect().map(r => r.getAs[Long]("sid") ->
            (r.getAs[String]("text_dedup"), r.getAs[Long]("n_paras"),
              r.getAs[Long]("n_kept"))).toMap
        out.foreach { case (_, (_, np, nk)) => assert(nk >= 1 && nk <= np) }
        // fixpoint: deduping the rebuilt text changes nothing
        val df2 = out.toSeq.map { case (id, (t, _, _)) => (id, t) }
          .toDF("doc_id", "text")
        val out2 = graft.operators.TextOps
          .paragraphDedup(df2, "doc_id", "text", sep)
          .collect().map(r => r.getAs[Long]("sid") ->
            r.getAs[String]("text_dedup")).toMap
        out.foreach { case (id, (t, _, _)) =>
          assert(out2(id) == t, s"not a fixpoint (sep='$sep'): '$t'")
        }
        // order preserved: kept paragraphs appear in original relative order
        group.zipWithIndex.foreach { case ((t, _), i) =>
          val orig = t.split(java.util.regex.Pattern.quote(sep), -1).toSeq
          val kept = out(i.toLong)._1
            .split(java.util.regex.Pattern.quote(sep), -1).toSeq
          // kept must be a subsequence of orig
          var j = 0
          kept.foreach { k =>
            j = orig.indexOf(k, j)
            assert(j >= 0, s"'$k' out of order in '$t' (sep='$sep')")
            j += 1
          }
        }
      }
    }
  }
}
