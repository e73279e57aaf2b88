package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.operators.{Aggregates, AsofJoin}

/** Property-based invariants (SURVEY.md §5.3) on small generated relations.
  * Sample counts are kept low — each case runs real Spark jobs. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genRows: Gen[List[(Long, Double, String)]] =
    Gen.nonEmptyListOf(for {
      order <- Gen.choose(1L, 5L)
      price <- Gen.choose(1, 10000).map(_ / 100.0) // 2-decimal money
      flag <- Gen.oneOf("A", "N", "R")
    } yield (order, price, flag)).map(_.take(30))

  private def lineitems(rows: List[(Long, Double, String)]) =
    rows.toDF("l_orderkey", "l_extendedprice", "l_returnflag")
      .withColumn("l_discount", lit(0.0))
      .withColumn("l_tax", lit(0.0))
      .withColumn("l_quantity", lit(1.0))
      .withColumn("l_shipdate", lit("2024-01-01").cast("timestamp"))

  property("argmax winner's sum >= every group member's sum") = forAll(genRows) { rows =>
    val df = lineitems(rows)
    val winners = Aggregates.primaryFlag(df)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("primary_flag_revenue")).toMap
    val perFlag = rows.groupBy(r => (r._1, r._3)).view
      .mapValues(_.map(t => BigDecimal(t._2)).sum).toMap
    perFlag.forall { case ((order, _), s) => BigDecimal(winners(order)) >= s - 0.0001 }
  }

  property("union+distinct is idempotent and dedup is a subset of input") = forAll(genRows) { rows =>
    val df = lineitems(rows).select("l_orderkey", "l_returnflag")
    val once = df.distinct()
    val twice = df.unionByName(df).distinct()
    val keys = rows.map(r => (r._1, r._3)).toSet
    once.count() == twice.count() &&
      once.collect().forall(r => keys.contains((r.getLong(0), r.getString(1))))
  }

  property("perOrderAll agrees with the three standalone aggregate builders") = forAll(genRows) { rows =>
    val df = lineitems(rows)
    val fused = Aggregates.perOrderAll(df)
      .select("l_orderkey", "order_item_count", "order_revenue_dec", "primary_returnflag")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2), r.getString(3))).toMap
    val sep1 = Aggregates.perOrder(df)
      .select("l_orderkey", "order_item_count", "order_revenue_dec")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val sep2 = Aggregates.primaryFlag(df)
      .select("l_orderkey", "primary_returnflag")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    fused.forall { case (k, (cnt, rev, flag)) =>
      sep1(k)._1 == cnt && sep1(k)._2.compareTo(rev) == 0 && sep2(k) == flag
    }
  }

  private val genAsof: Gen[(List[(Long, Long, Int)], List[(Long, Int, String)])] = for {
    lefts <- Gen.listOfN(12, for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0, 100)
    } yield (k, t.toLong, t))
    rights <- Gen.listOfN(6, for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0, 100)
    } yield (k, t, s"r$k-$t"))
  } yield (lefts.zipWithIndex.map { case ((k, _, t), i) => (i.toLong, k, t) },
    rights.distinctBy(r => (r._1, r._2)))

  private val genEvents: Gen[List[(Long, Int)]] =
    Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 3L)
      minute <- Gen.choose(0, 300)
    } yield (user, minute)).map(_.distinctBy(identity).take(40))

  property("stateful sessionizer (batch) emits exactly the gap-closed sessions") =
    forAll(genEvents) { evs =>
      import graft.streaming.Sessionize
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val ds = evs.map { case (u, m) =>
        Sessionize.Ev(u, new java.sql.Timestamp(base + m * 60000L), m.toDouble)
      }.toDS()
      val got = Sessionize.sessionize(ds, gapMinutes = 30).collect()
        .map(s => (s.user_id, s.session_start.getTime, s.event_count, s.session_value)).toSet
      // reference fold: sessions split on gap >= 30min; batch mode keeps the
      // final open session in (discarded) state, so it is NOT emitted
      val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
        val sorted = es.map(_._2).sorted
        val sessions = sorted.foldLeft(List.empty[List[Int]]) {
          case (acc, m) if acc.nonEmpty && m - acc.head.head < 30 => (m :: acc.head) :: acc.tail
          case (acc, m) => List(m) :: acc
        }.map(_.reverse).reverse
        sessions.dropRight(1).map(s =>
          (u, base + s.head * 60000L, s.length.toLong, s.map(_.toDouble).sum))
      }.toSet
      got == expected
    }

  property("range join results are bucketWidth-invariant and match brute force") = {
    import graft.operators.RangeJoin
    val genRanges: Gen[(List[(Long, Double)], List[(Double, Double, String)])] = for {
      vals <- Gen.listOfN(25, Gen.choose(0, 1000).map(_ / 10.0))
      ranges <- Gen.listOfN(5, for {
        lo <- Gen.choose(0, 900).map(_ / 10.0)
        w <- Gen.choose(1, 300).map(_ / 10.0)
      } yield (lo, lo + w))
    } yield (vals.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      ranges.zipWithIndex.map { case ((lo, hi), i) => (lo, hi, s"r$i") })
    forAll(genRanges) { case (vals, ranges) =>
      val left = vals.toDF("id", "v")
      val r = ranges.toDF("lo", "hi", "tier")
      def run(w: Double) = RangeJoin.bucketed(left, "v", r, "lo", "hi", w)
        .select("id", "tier").collect().map(x => (x.getLong(0), x.getString(1))).toSet
      val brute = (for {
        (id, v) <- vals; (lo, hi, t) <- ranges if v >= lo && v < hi
      } yield (id, t)).toSet
      run(5.0) == brute && run(25.0) == brute && run(120.0) == brute
    }
  }

  property("custom TopK physical operator matches the window formulation on random data") = {
    import graft.plans.TopK
    import org.apache.spark.sql.expressions.Window
    val genData: Gen[List[(String, Int, Long)]] = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      score <- Gen.choose(0, 5) // small domain → frequent ties
    } yield (g, score)).map(_.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }.take(40))
    forAll(genData) { rows =>
      val df = rows.toDF("grp", "score", "id")
      val native = TopK.perGroup(df, Seq("grp"), Seq("score" -> false, "id" -> true), 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val win = df.withColumn("rk", row_number().over(
          Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id").asc)))
        .filter(col("rk") <= 3).drop("rk")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      native == win
    }
  }

  property("netpbm decode round-trips arbitrary generated images exactly") = {
    import graft.operators.Multimodal
    val genImg = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      gray <- Gen.oneOf(true, false)
      comment <- Gen.oneOf(true, false)
      seed <- Gen.choose(0, 255)
    } yield (w, h, gray, comment, seed)
    forAll(genImg) { case (w, h, gray, comment, seed) =>
      val ch = if (gray) 1 else 3
      val magic = if (gray) "P5" else "P6"
      val hdr = (if (comment) s"$magic\n# c\n$w $h\n255\n" else s"$magic\n$w $h\n255\n")
        .getBytes("US-ASCII")
      val samples = Array.tabulate(w * h * ch)(i => ((i + seed) % 256).toByte)
      val bytes = hdr ++ samples
      // a non-whitespace byte after maxval is a malformed header: reject,
      // never accept with sample offsets shifted by one
      val malformed = (s"$magic\n$w $h\n255".getBytes("US-ASCII") :+ 'X'.toByte) ++ samples
      Multimodal.decodePnm(bytes) match {
        case Some(f) =>
          f.width == w && f.height == h && f.channels == ch &&
          f.dataEnd - f.dataStart == w * h * ch &&
          // truncating by one byte must reject
          Multimodal.decodePnm(bytes.dropRight(1)).isEmpty &&
          Multimodal.decodePnm(malformed).isEmpty
        case None => false
      }
    }
  }

  private val genSnapshots: Gen[(List[(Long, String)], List[(Long, String)])] =
    for {
      oldRows <- Gen.listOf(Gen.zip(Gen.choose(1L, 20L), Gen.oneOf("a", "b", "c")))
      newRows <- Gen.listOf(Gen.zip(Gen.choose(1L, 20L), Gen.oneOf("a", "b", "c")))
    } yield (oldRows.distinctBy(_._1).take(15), newRows.distinctBy(_._1).take(15))

  property("CDC diff applied to the old snapshot reconstructs the new one") =
    forAll(genSnapshots) { case (oldRows, newRows) =>
      val o = oldRows.toDF("id", "payload")
      val n = newRows.toDF("id", "payload")
      val diff = graft.operators.Cdc.snapshotDiff(o, n, "id", Seq("payload"))
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(3))))
      // patch semantics: delete removes, insert/update set the new payload
      val patched = diff.foldLeft(oldRows.toMap) {
        case (m, (id, "delete", _)) => m - id
        case (m, (id, _, newPayload)) => m.updated(id, newPayload.get)
      }
      patched == newRows.toMap &&
        // diff(a, a) is empty
        graft.operators.Cdc.snapshotDiff(o, o, "id", Seq("payload")).count() == 0
    }

  private val genWav: Gen[(Int, Int, List[Short])] = for {
    ch <- Gen.choose(1, 2)
    rate <- Gen.oneOf(8000, 16000, 44100)
    n <- Gen.choose(1, 12)
    samples <- Gen.listOfN(n * ch, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt)
      .map(_.toShort))
  } yield (ch, rate, samples)

  property("WAV kernel round-trips arbitrary PCM16 payloads exactly") =
    forAll(genWav) { case (ch, rate, samples) =>
      import graft.operators.Multimodal
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + samples.length * 2); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1.toShort); bb.putShort(ch.toShort)
      bb.putInt(rate); bb.putInt(rate * ch * 2)
      bb.putShort((ch * 2).toShort); bb.putShort(16.toShort)
      bb.put("data".getBytes); bb.putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      val bytes = bb.array()
      Multimodal.decodeWav(bytes) match {
        case Some(w) =>
          val expectedMean = samples.map(s => math.abs(s.toInt).toLong).sum
            .toDouble / samples.length / 32768.0
          w.channels == ch && w.sampleRate == rate &&
            w.nSamples == samples.length / ch &&
            math.abs(Multimodal.pcm16MeanAbs(bytes, w.dataStart, w.dataEnd) - expectedMean) < 1e-12 &&
            Multimodal.decodeWav(bytes.dropRight(1)).isEmpty
        case None => false
      }
    }

  property("as-of join picks the max right time <= left time (vs brute force)") =
    forAll(genAsof) { case (lefts, rights) =>
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def t(m: Int) = new java.sql.Timestamp(base + m * 60000L)
      val l = lefts.map { case (id, k, m) => (id, k, t(m)) }.toDF("id", "k", "t")
      val r = rights.map { case (k, m, tag) => (k, t(m), tag) }.toDF("rk", "rt", "tag")
      val got = AsofJoin.asofBackwardFlat(l, r, "k", "rk", "t", "rt", Seq("tag" -> "tag"))
        .collect().map(row => row.getLong(0) -> Option(row.getString(3))).toMap
      lefts.forall { case (id, k, m) =>
        val expected = rights.filter(x => x._1 == k && x._2 <= m)
          .sortBy(_._2).lastOption.map(_._3)
        got(id) == expected
      }
    }

  // (event_id, user, minute) click and purchase lists — ids disjoint by
  // construction so pair identity is unambiguous
  private val genConversions: Gen[(List[(Long, Long, Int)], List[(Long, Long, Int)])] =
    for {
      clicks <- Gen.listOf(for {
        id <- Gen.choose(1L, 50L); u <- Gen.choose(1L, 4L); m <- Gen.choose(0, 120)
      } yield (id, u, m)).map(_.distinctBy(_._1).take(15))
      purchases <- Gen.listOf(for {
        id <- Gen.choose(100L, 150L); u <- Gen.choose(1L, 4L); m <- Gen.choose(0, 120)
      } yield (id, u, m)).map(_.distinctBy(_._1).take(15))
    } yield (clicks, purchases)

  property("conversion interval join matches the brute-force scan") =
    forAll(genConversions) { case (clicks, purchases) =>
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def t(m: Int) = new java.sql.Timestamp(base + m * 60000L)
      val c = clicks.map { case (id, u, m) => (u, t(m), id) }.toDF("c_user", "c_ts", "c_id")
      val p = purchases.map { case (id, u, m) => (u, t(m), id) }.toDF("p_user", "p_ts", "p_id")
      val got = graft.streaming.Events.conversionJoin(c, p)
        .select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (cid, cu, cm) <- clicks
        (pid, pu, pm) <- purchases
        if pu == cu && pm >= cm && pm <= cm + 30
      } yield (cid, pid)).toSet
      got == want
    }

  private val genRankRows: Gen[List[(Long, Double, String)]] =
    Gen.nonEmptyListOf(for {
      x <- Gen.choose(0, 8).map(_ / 2.0)  // few distinct values -> heavy ties
      t <- Gen.oneOf("a", "z", "\u00e9", "\ud83d\ude00", "ab", "\u00e9b") // 1/2/4-byte UTF-8
    } yield (x, t)).map(_.take(40).zipWithIndex.map { case ((x, t), i) => (i.toLong, x, t) })

  /** Spark's binary UTF8String order, reimplemented for the expectation. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  property("withGlobalOrder = driver-side total sort, ties + multi-bucket forced") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("id", "x", "s")
      // sampleMod = 1: every row is a splitter candidate -> real bounds even
      // on tiny inputs, exercising the binary-search bucket path
      val out = graft.operators.Ranks.withGlobalOrder(df,
        Seq(col("x").desc, col("id").asc), "rank",
        running = Seq((col("id"), "cum_id")), sampleMod = 1)
        .select("id", "rank", "cum_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
      val expOrder = rows.sortBy { case (id, x, _) => (-x, id) }
      val expCum = expOrder.scanLeft(0L)(_ + _._1).tail
      out.map(_._1).toSeq == expOrder.map(_._1) &&
        out.map(_._2).toSeq == (1L to rows.length.toLong) &&
        out.map(_._3).toSeq == expCum
    }

  property("withGlobalOrder string keys follow Spark's UTF-8 binary order") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("id", "x", "s")
      val out = graft.operators.Ranks.withGlobalOrder(df,
        Seq(col("s").asc, col("id").asc), "rank", sampleMod = 1)
        .select("id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
      val expOrder = rows.map { case (id, _, t) => (id, t) }
        .sortWith((a, b) => if (a._2 != b._2) utf8Lt(a._2, b._2) else a._1 < b._1)
      out.map(_._1).toSeq == expOrder.map(_._1)
    }

  private val genWideRows: Gen[(List[(Long, String)], Int)] = for {
    n <- Gen.choose(60, 140)
    regime <- Gen.choose(0, 2) // 0: diverse prefixes; 1: 80-char shared
                               // prefix (straddles the 64-char thin cut);
                               // 2: 100-char identical prefix (all bounds
                               // collapse to one value -> 2 buckets max)
  } yield {
    val pref = regime match {
      case 0 => ""; case 1 => "p" * 80; case _ => "q" * 100
    }
    ((1 to n).map(i =>
      (i.toLong, pref + s"k${i % 37}" + "z" * 300 + i.toString)).toList, regime)
  }

  property("wide string keys: splitter bounds prefix-thinned to <=64 chars, ranks exact") =
    forAll(genWideRows) { case (rows, _) =>
      val df = rows.toDF("id", "s")
      val order = Seq(col("s").asc, col("id").asc)
      val bounds = graft.operators.Ranks.splitterBounds(df, order, 16, 1, None)
      // driver-held/plan-literal bound width is capped even for ~400-char keys
      val widthOk = bounds.forall(_.getString(0).length <= 64)
      val out = graft.operators.Ranks.withGlobalOrder(df, order, "rank",
          sampleMod = 1)
        .select("id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
      val exp = rows.sortWith((a, b) =>
        if (a._2 != b._2) utf8Lt(a._2, b._2) else a._1 < b._1)
      widthOk && out.map(_._1).toSeq == exp.map(_._1)
    }

  private val genBoundsCase: Gen[(Int, Int)] = for {
    n <- Gen.choose(1500, 3000) // > 64·16 sample cap -> re-thin engaged
    style <- Gen.choose(0, 3)
  } yield (n, style)

  property("splitterBounds: value-derived under adversarial order, balanced buckets") =
    forAll(genBoundsCase) { case (n, style) =>
      val buckets = 16
      val base = (1 to n).map(_.toLong)
      val presented = style match {
        case 0 => base
        case 1 => base.reverse
        case 2 => base.sortBy(x => x * 2654435761L % n) // pseudo-shuffled
        case _ => base
      }
      val df0 = presented.toDF("id")
      // adversarial physical layout: clustered ranges vs round-robin
      val df = if (style == 3) df0.repartitionByRange(7, col("id"))
               else df0.repartition(5)
      val order = Seq(col("id").asc)
      val a = graft.operators.Ranks.splitterBounds(df, order, buckets, 1, None)
      // a DIFFERENT presentation of the same values must give the SAME bounds
      val b = graft.operators.Ranks.splitterBounds(
        base.reverse.toDF("id").repartition(3), order, buckets, 1, None)
      val va = a.map(_.getLong(0))
      val loads = {
        // bucket of id = #bounds strictly before it (equal stays earlier)
        val bs = va.toArray
        val counts = new Array[Long](buckets)
        base.foreach { id =>
          var lo = 0; var hi = bs.length
          while (lo < hi) { val m = (lo + hi) / 2; if (id > bs(m)) lo = m + 1 else hi = m }
          counts(lo) += 1
        }
        counts.toSeq
      }
      val mean = n.toDouble / buckets
      (a.map(_.getLong(0)) == b.map(_.getLong(0))) :| "bounds not value-derived" &&
        (va == va.sorted && va.distinct == va) :| "bounds not sorted-distinct" &&
        (loads.max <= 4 * mean) :| s"bucket skew: max ${loads.max} vs mean $mean"
    }

  // Tiny alphabet → heavy pair-count ties AND output-symbol collisions
  // ("ab" arises as a merged symbol while (a,b)-style pairs still exist) —
  // exactly the cases where a careless batch diverges from sequential BPE.
  private val genBpeWords: Gen[List[String]] = Gen.nonEmptyListOf(for {
    len <- Gen.choose(2, 6)
    cs <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
  } yield cs.mkString).map(_.take(24))

  property("batched BPE trainer equals a from-scratch sequential reference") =
    forAll(genBpeWords) { wordList =>
      val target = 6
      // driver-side sequential reference (argmax + leftmost-greedy apply)
      var vocab: Map[Vector[String], Long] = wordList.groupBy(identity)
        .map { case (w, g) => w.split("").filter(_.nonEmpty).toVector -> g.size.toLong }
      val expected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var done = false
      for (_ <- 0 until target if !done) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
          pairs((syms(i), syms(i + 1))) = pairs.getOrElse((syms(i), syms(i + 1)), 0L) + f
        if (pairs.isEmpty) done = true
        else {
          val ((l, r), cnt) = pairs.toSeq.minBy { case ((pl, pr), c) => (-c, pl, pr) }
          expected += ((l, r, cnt))
          vocab = vocab.toSeq.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> f
          }.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
        }
      }
      val init = wordList.toDF("word")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .select(expr("filter(split(word, ''), s -> s <> '')").as("syms"), col("freq"))
      val (got, _) = graft.operators.TextAnalysis.bpeTrainFrom(init, target, maxBatch = 4)
      got == expected.toSeq
    }

  private val genBoilerDocs: Gen[List[(Long, String, String)]] =
    Gen.nonEmptyListOf(for {
      src <- Gen.oneOf("s1", "s2")
      nTok <- Gen.choose(1, 30)
      toks <- Gen.listOfN(nTok, Gen.oneOf("aa", "bb", "cc", "dd")) // tiny vocab -> block collisions
    } yield (src, toks.mkString(" ")))
      .map(_.take(16).zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) })

  property("stripBoilerplate matches a from-scratch reimplementation on colliding corpora") =
    forAll(genBoilerDocs) { docs =>
      // driver-side reference: non-overlapping 8-token blocks, boiler when
      // a block appears in >= 3 distinct docs of one source, rebuild kept
      val blocks = docs.map { case (id, src, t) =>
        (id, src, t.trim.split("\\s+").toList.grouped(8).map(_.mkString(" ")).toList)
      }
      val freq = blocks.flatMap { case (id, src, bs) => bs.distinct.map(b => (src, b, id)) }
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).distinct.size).toMap
      val expected = blocks.map { case (id, src, bs) =>
        val kept = bs.filter(b => freq((src, b)) < 3)
        id -> (bs.length.toLong, (bs.length - kept.length).toLong, kept.mkString(" "))
      }.toMap
      val out = graft.operators.TextAnalysis.stripBoilerplate(
        docs.toDF("doc_id", "source", "text")).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getString(4))).toMap
      out == expected
    }

  property("chunk tiles arbitrary token streams exactly like a driver-side reference") =
    forAll(genBoilerDocs) { docs =>
      val expected = docs.flatMap { case (id, _, t) =>
        val w = t.trim.split("\\s+").toList
        (1 to w.length by 48).zipWithIndex.map { case (start, ci) =>
          (id, ci + 1L, start.toLong, w.slice(start - 1, start - 1 + 64))
        }
      }.map { case (id, ci, st, chunk) =>
        (id, ci, st, chunk.length.toLong, chunk.mkString(" "))
      }.toSet
      val out = graft.operators.TextAnalysis.chunk(
        docs.toDF("doc_id", "source", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      out == expected
    }

  // Random multi-source corpora with tunable overlap: shared vocabulary
  // "w0".."w7" plus per-source private words, so pairs range from
  // near-identical to fully disjoint vocabularies.
  private val genTvCorpus: Gen[List[(String, String)]] = for {
    nSrc <- Gen.choose(2, 4)
    texts <- Gen.sequence[List[String], String]((0 until nSrc).toList.map { s =>
      for {
        n <- Gen.choose(1, 12)
        ws <- Gen.listOfN(n, Gen.frequency(
          3 -> Gen.choose(0, 7).map(i => s"w$i"),
          1 -> Gen.choose(0, 3).map(i => s"u${s}x$i")))
      } yield ws.mkString(" ")
    })
  } yield texts.zipWithIndex.map { case (t, i) => (s"s$i", t) }

  property("source TV matrix equals a from-scratch quantized reference on random corpora") =
    forAll(genTvCorpus) { srcs =>
      // driver reference: same 10^6 floor-div quantization as the operator
      val counts: Map[String, Map[String, Long]] = srcs.map { case (s, t) =>
        s -> t.trim.split("\\s+").toSeq.groupBy(identity).view
          .mapValues(_.size.toLong).toMap
      }.toMap
      val q: Map[String, Map[String, Long]] = counts.map { case (s, cm) =>
        val tot = cm.values.sum
        s -> cm.map { case (w, c) => w -> (1000000L * c) / tot }
      }
      val qtot = q.map { case (s, m) => s -> m.values.sum }
      val names = srcs.map(_._1).sorted
      val expected = (for {
        i <- names.indices; j <- (i + 1) until names.length
        (a, b) = (names(i), names(j))
        shared = q(a).keySet.intersect(q(b).keySet)
      } yield {
        val sumMin = shared.toSeq.map(w => math.min(q(a)(w), q(b)(w))).sum
        (a, b) -> (shared.size.toLong, qtot(a) + qtot(b) - 2L * sumMin)
      }).toMap
      val out = graft.operators.Curation.sourceTv(srcs.toDF("source", "text"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      out == expected
    }

  property("WhitespaceTokens == String.split(\"\\\\s+\", -1) on adversarial mixes") =
    forAll(Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B'),
      1 -> Gen.oneOf(' ', '　', 'é', '世', '|')))
      .map(_.mkString)) { s =>
      val got = graft.expressions.WhitespaceTokens
        .split(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val want = s.split("\\s+", -1)
      got.numElements() == want.length &&
        (0 until got.numElements()).forall(i =>
          got.getUTF8String(i).toString == want(i))
    }

  // covers the digest helpers of graft_winnowing, folded from Md5Raw
  property("Md5Raw: hex parity and unsigned-bytewise order == hex order") =
    forAll(Gen.listOfN(2, Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)))) {
      case List(aBytes, bBytes) =>
        // the raw md5 digests graft_winnowing ranks, held as two longs each
        val (a, b) = (aBytes.toArray, bBytes.toArray)
        val h = new Array[Long](4)
        val md = java.security.MessageDigest.getInstance("MD5")
        graft.expressions.Winnowing.md5Into(md, java.nio.ByteBuffer.allocate(16), a, 0, a.length, h, 0)
        graft.expressions.Winnowing.md5Into(md, java.nio.ByteBuffer.allocate(16), b, 0, b.length, h, 1)
        val (ha, hb) = (graft.expressions.Winnowing.hexAt(h, 0).toString,
          graft.expressions.Winnowing.hexAt(h, 1).toString)
        val hexOk = ha == org.apache.commons.codec.digest.DigestUtils.md5Hex(a) &&
          hb == org.apache.commons.codec.digest.DigestUtils.md5Hex(b)
        // unsigned compare of the raw digests vs String compare of hex
        val cmpRaw = math.signum(graft.expressions.Winnowing.compareAt(h, 0, 1))
        hexOk && cmpRaw == math.signum(ha compare hb).toInt
      case _ => true
    }
}
