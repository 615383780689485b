package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.Sentiment
import graft.operators.Dedup

/** ScalaCheck properties (SURVEY.md §5.4), run through scalacheck's own
  * runner (the scalatestplus bridge is not in the offline dep cache). */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, s"property failed: ${res.status}")
  }

  private val wordGen = Gen.oneOf("good", "win", "fail", "bad", "calm", "tree")
  private val textGen = Gen.listOfN(6, wordGen).map(_.mkString(" "))
  private val catGen = Gen.oneOf(19, 20, 10, 99)

  test("classification partitions every input: POS+NEG+NEU+UNK == N") {
    val lex = Sentiment.Lexicons(Seq("good", "win"), Seq("fail", "bad"),
      Seq(19), Seq(20), Seq(10))
    check(Prop.forAll(Gen.listOfN(20, Gen.zip(catGen, textGen))) { rows =>
      rows.isEmpty || {
        val df = rows.zipWithIndex.map { case ((c, t), i) => (i, c, t) }
          .toDF("id", "cat", "text")
        val txt = lower(col("text"))
        val out = df.select(Sentiment.finalSentiment(col("cat"),
          Sentiment.keywordCount(txt, lex.positive),
          Sentiment.keywordCount(txt, lex.negative), lex).as("s"))
          .groupBy("s").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        out.keySet.subsetOf(Set("POSITIVE", "NEGATIVE", "NEUTRAL", "UNKNOWN")) &&
          out.values.sum == rows.length
      }
    })
  }

  test("sentiment kernel equals lower() plus one contains per word, ICU on and off") {
    // Fragments chosen where case mapping is not byte-local: İ (U+0130)
    // lowers to two code points, the Kelvin sign (U+212A) to ASCII k, a
    // final Σ is context-sensitive, and 0xC3 / 0xFF are invalid UTF-8.
    def utf8(x: String): Array[Byte] = x.getBytes("UTF-8")
    val frags: Seq[Array[Byte]] = Seq("Good", "WIN", "fAiL", "bad", " ",
      "", "\u0130", "\u212A", "ΟΔΟΣ", "σ", "Caf\u00C9", "MERGE")
      .map(utf8) ++ Seq(Array(0xC3.toByte), Array(0xFF.toByte, 'K'.toByte))
    val bytesGen = Gen.listOfN(4, Gen.oneOf(frags)).map(_.toArray.flatten)
    val fieldGen = Gen.frequency(5 -> bytesGen.map(Option(_)), 1 -> Gen.const(None))
    val tagsGen = Gen.frequency(
      4 -> Gen.listOfN(2, fieldGen).map(Option(_)), 1 -> Gen.const(None))
    val rowGen = Gen.zip(fieldGen, fieldGen, tagsGen)
    val lex = Sentiment.Lexicons(Seq("good", "win", "k", "i\u0307"),
      Seq("fail", "\u03C2", "\u03C3", "caf\u00E9"), Seq(19), Seq(20), Seq(10))
    def unrolled(text: Column, words: Seq[String]): Column =
      words.map(w => when(text.contains(w), 1).otherwise(0)).reduce(_ + _)
    def agrees(rows: List[(Option[Array[Byte]], Option[Array[Byte]],
        Option[List[Option[Array[Byte]]]])]): Boolean = {
      val df = rows.zipWithIndex.map { case ((t, d, g), i) =>
        (i, t.orNull, d.orNull, g.map(_.map(_.orNull)).orNull)
      }.toDF("id", "tb", "db", "gb")
        .select(col("id"), col("tb").cast("string").as("title"),
          col("db").cast("string").as("description"),
          col("gb").cast("array<string>").as("tags"))
      val oldTxt = lower(concat_ws(" ", col("title"),
        coalesce(col("description"), lit("")),
        array_join(coalesce(col("tags"), array()), " ")))
      val newTxt = Sentiment.combinedText(
        col("title"), col("description"), col("tags"))
      val checks = Seq(
        oldTxt <=> newTxt,
        unrolled(oldTxt, lex.positive) === Sentiment.keywordCount(newTxt, lex.positive),
        unrolled(oldTxt, lex.negative) === Sentiment.keywordCount(newTxt, lex.negative),
        // a bare (possibly NULL) column: NULL counts 0 in both forms
        lower(col("title")) <=> Sentiment.lowerText(col("title")),
        unrolled(lower(col("title")), lex.positive) ===
          Sentiment.keywordCount(Sentiment.lowerText(col("title")), lex.positive))
      df.select(checks.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
        .collect().forall(r => (0 until r.length).forall(r.getBoolean))
    }
    // the binary -> string cast keeps invalid bytes invalid
    assert(Seq(Array(0xC3.toByte)).toDF("b")
      .select(is_valid_utf8(col("b").cast("string"))).head().getBoolean(0) === false)
    val keys = Seq("spark.sql.icu.caseMappings.enabled",
      "spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try for (icu <- Seq("true", "false");
             (mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"),
               ("NO_CODEGEN", "false"))) {
      spark.conf.set(keys(0), icu)
      spark.conf.set(keys(1), mode)
      spark.conf.set(keys(2), wholeStage)
      withClue(s"icu=$icu codegen=$mode: ") {
        check(Prop.forAll(Gen.listOfN(20, rowGen))(agrees))
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("engagement rate is finite, >= 0, and 0 exactly when views == 0") {
    val rowGen = Gen.zip(Gen.chooseNum(0, 10000),
      Gen.chooseNum(0, 500), Gen.chooseNum(0, 500))
    check(Prop.forAll(Gen.listOfN(20, rowGen)) { rows =>
      rows.isEmpty || {
        rows.toDF("views", "likes", "comments")
          .select(col("views"), Sentiment.engagementRate(col("views"),
            col("likes").cast("double"), col("comments").cast("double")).as("r"))
          .collect()
          .forall { r =>
            val (views, rate) = (r.getInt(0), r.getDouble(1))
            !rate.isNaN && !rate.isInfinite && rate >= 0.0 &&
              (views != 0 || rate == 0.0)
          }
      }
    })
  }

  test("exact dedup: keepers unique and minimal, counts sum to input size") {
    val docGen = Gen.listOfN(15, Gen.oneOf("alpha beta", "gamma delta", "x y"))
    check(Prop.forAll(docGen) { texts =>
      texts.isEmpty || {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val out = Dedup.dedupByHash(df).collect()
        val keepers = out.map(_.getLong(1))
        val expectedKeepers = texts.zipWithIndex.groupBy(_._1)
          .map { case (_, g) => g.map(_._2.toLong).min }.toSet
        keepers.distinct.length == keepers.length &&
          out.map(_.getLong(2)).sum == texts.length &&
          keepers.toSet == expectedKeepers
      }
    })
  }

  test("asof join equals the brute-force latest-at-or-before reference") {
    import java.sql.Timestamp
    val stateGen = Gen.listOfN(8, Gen.zip(Gen.chooseNum(1L, 3L),
      Gen.chooseNum(0L, 50L), Gen.chooseNum(0, 999)))
      .map(_.map { case (k, t, v) => (k, t, v.toDouble) }
        .distinctBy(r => (r._1, r._2))) // unique (key, ts) per asof contract
    val probeGen = Gen.listOfN(6, Gen.zip(Gen.chooseNum(1L, 3L),
      Gen.chooseNum(0L, 50L)))
    check(Prop.forAll(Gen.zip(stateGen, probeGen)) { case (states, probes) =>
      probes.isEmpty || states.isEmpty || {
        def ts(s: Long) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
        val stateDf = states.map { case (k, t, v) => (k, ts(t), v) }
          .toDF("key", "ts", "sval")
        val probeDf = probes.zipWithIndex
          .map { case ((k, t), i) => (k, ts(t), i.toLong) }
          .toDF("key", "ts", "event_id")
        val got = graft.operators.Joins.asofJoin(probeDf, stateDf)
          .collect()
          .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
          .toMap
        val want = probes.zipWithIndex.map { case ((k, t), i) =>
          val eligible = states.filter(s => s._1 == k && s._2 <= t)
          i.toLong -> (if (eligible.isEmpty) None
                       else Some(eligible.maxBy(_._2)._3))
        }.toMap
        got == want
      }
    })
  }

  test("range-join bins: every (value, range) match lands in exactly one bin") {
    val w = graft.operators.Joins.BinWidth
    val rangeGen = Gen.zip(Gen.chooseNum(0, 2400), Gen.chooseNum(1, 800))
      .map { case (lo, len) => (lo, lo + len) }
    check(Prop.forAll(Gen.zip(Gen.chooseNum(0.0, 2600.0), rangeGen)) {
      case (price, (lo, hi)) =>
        val bins = (lo / w) to ((hi - 1) / w)
        val hits = bins.count(_ == math.floor(price / w).toInt)
        if (price >= lo && price < hi) hits == 1 else hits <= 1
    })
  }

  test("vector expressions: dot/l2sq lattice properties on random vectors") {
    // graft_dot and graft_l2sq are the similarity stack's inner loops;
    // their algebraic identities must hold for arbitrary finite doubles:
    // l2sq(a,a)=0, l2sq symmetric, dot symmetric... — dot/l2sq are
    // FOLD-ORDER-PINNED, so symmetry is only guaranteed where each
    // elementwise term is symmetric: x*y==y*x and (x-y)^2==(y-x)^2 exactly
    // (IEEE), so both hold bitwise. Length mismatch must yield NULL.
    val vGen = Gen.listOfN(8, Gen.chooseNum(-1e6, 1e6).map(_.toDouble))
    check(Prop.forAll(vGen, vGen) { (a: List[Double], b: List[Double]) =>
      import graft.functions.VectorExprs
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val r = df.select(
        VectorExprs.l2DistSq(col("a"), col("a")).as("self"),
        VectorExprs.l2DistSq(col("a"), col("b")).as("ab"),
        VectorExprs.l2DistSq(col("b"), col("a")).as("ba"),
        VectorExprs.dot(col("a"), col("b")).as("dab"),
        VectorExprs.dot(col("b"), col("a")).as("dba"),
        VectorExprs.dot(col("a"), expr("slice(b, 1, 7)")).as("jag")).head()
      r.getDouble(0) == 0.0 &&
        java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)) &&
        java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(4)) &&
        r.isNullAt(5)
    })
  }

  test("grouped sums equal the ungrouped total (agg consistency)") {
    val rowGen = Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 1000L))
    check(Prop.forAll(Gen.listOfN(30, rowGen)) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "v")
        val grouped = df.groupBy("k").agg(sum("v").as("s"))
          .agg(sum("s")).head().getLong(0)
        grouped == df.agg(sum("v")).head().getLong(0)
      }
    })
  }

  test("Scan.exclusivePrefix == sequential scanLeft for any data/partitioning/monoid") {
    val dataGen = for {
      xs <- Gen.listOfN(40, Gen.chooseNum(-1000L, 1000L))
      nPart <- Gen.chooseNum(1, 7)
    } yield (xs, nPart)
    check(Prop.forAll(dataGen) { case (xs, nPart) =>
      // parallelize preserves element order across the partition cut, so
      // the global order is xs's order — the helper's contract input
      val rdd = spark.sparkContext.parallelize(xs, nPart)
      val sumGot = graft.engine.Scan
        .exclusivePrefix[Long, Long](rdd, 0L, identity, _ + _)
        .collect().toList
      val sumExp = xs.scanLeft(0L)(_ + _).init.zip(xs)
      val minGot = graft.engine.Scan
        .exclusivePrefix[Long, Long](rdd, Long.MaxValue, identity, math.min)
        .collect().toList
      val minExp = xs.scanLeft(Long.MaxValue)(math.min).init.zip(xs)
      sumGot == sumExp && minGot == minExp
    })
  }

  test("LongLongMap and sortPairs/containsPair match library references") {
    import graft.engine.Primitives
    val opGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(-5L, 5L), Gen.chooseNum(-100L, 100L)))
    check(Prop.forAll(opGen) { ops =>
      val m = new Primitives.LongLongMap(4) // tiny start forces growth
      val ref = scala.collection.mutable.Map.empty[Long, Long]
      ops.foreach { case (k, v) =>
        if (v % 3 == 0) { m(k) = v; ref(k) = v }
        else { m.addTo(k, v); ref(k) = ref.getOrElse(k, 0L) + v }
      }
      var same = m.size == ref.size
      m.foreachEntry((k, v) => same &&= ref.get(k).contains(v))
      same && ref.forall { case (k, v) =>
        m.contains(k) && m.getOrElse(k, Long.MinValue) == v }
    })
    val pairsGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(-9L, 9L), Gen.chooseNum(-9L, 9L)))
    check(Prop.forAll(pairsGen) { ps =>
      val a = ps.map(_._1).toArray
      val b = ps.map(_._2).toArray
      Primitives.sortPairs(a, b)
      val expect = ps.sorted
      val sortedOk = a.zip(b).toList == expect
      val set = ps.toSet
      val memberOk = (-10L to 10L).forall(x => (-10L to 10L).forall(y =>
        Primitives.containsPair(a, b, x, y) == set.contains((x, y))))
      sortedOk && memberOk
    })
  }

  test("connected components: both paths equal a brute-force reference") {
    // random small multigraphs (dupes and self-pairs allowed); reference =
    // naive label propagation to fixpoint on the driver
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(1L, 9L), Gen.chooseNum(1L, 9L)))
    check(Prop.forAll(edgeGen) { es =>
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      var ref = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        es.foreach { case (a, b) =>
          val m = math.min(ref(a), ref(b))
          if (ref(a) != m || ref(b) != m) {
            ref += a -> m; ref += b -> m; changed = true
          }
        }
        // propagate through representatives too (path compression)
        nodes.foreach { n =>
          if (ref(ref(n)) != ref(n)) { ref += n -> ref(ref(n)); changed = true }
        }
      }
      val pairs = es.toDF("doc_a", "doc_b")
      def run(localMax: Long) =
        Dedup.connectedComponents(spark, pairs, localMax)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run(Long.MaxValue) == ref && run(0L) == ref
    })
  }

  test("connected components: star contraction equals union-find on long paths") {
    // 60 random ids in random order, cut into two paths (diameters up to
    // 58, far past one contraction round), plus random chords, self-pairs
    // and repeated edges in both directions
    val graphGen = for {
      picked <- Gen.pick(60, 1L to 400L)
      keys <- Gen.listOfN(60, Gen.chooseNum(0, Int.MaxValue))
      cut <- Gen.chooseNum(1, 59)
      chords <- Gen.listOfN(6, Gen.zip(Gen.oneOf(picked), Gen.oneOf(picked)))
      loops <- Gen.listOfN(2, Gen.chooseNum(401L, 405L))
    } yield {
      val ids = picked.toList.zip(keys).sortBy(_._2).map(_._1)
      val (p1, p2) = ids.splitAt(cut)
      val path = Seq(p1, p2).flatMap(p => p.zip(p.drop(1)))
      path ++ path.take(3).map(_.swap) ++ chords ++ loops.map(n => (n, n))
    }
    check(Prop.forAll(graphGen) { es =>
      val pairs = es.toDF("doc_a", "doc_b")
      def run(localMax: Long) =
        Dedup.connectedComponents(spark, pairs, localMax)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = run(Long.MaxValue)
      local.keySet == es.flatMap(e => Seq(e._1, e._2)).toSet &&
        run(0L) == local
    })
  }

  test("pagerank: paths bit-identical and mass-conserving on random graphs") {
    val pairGen = Gen.listOfN(8,
      Gen.zip(Gen.chooseNum(1L, 7L), Gen.chooseNum(8L, 14L)))
    check(Prop.forAll(pairGen) { ps =>
      val pairs = ps.toDF("a", "b")
      def run(localMax: Long) =
        graft.operators.Graph.pagerank(spark, pairs, localMax)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val local = run(Long.MaxValue)
      val dist = run(0L)
      local.keySet == dist.keySet &&
        local.forall { case (k, v) =>
          java.lang.Double.doubleToLongBits(v) ==
            java.lang.Double.doubleToLongBits(dist(k))
        } &&
        math.abs(local.values.sum - 1.0) < 1e-9
    })
  }

  // Pure-algebra laws behind the round-7 exact statistics: the engine
  // queries state these identities in SQL/Column form; these properties
  // protect the DERIVATIONS on arbitrary multisets.

  test("grouped-data Gini identity equals the sorted-list formula (X161)") {
    val valsGen = Gen.listOfN(30, Gen.chooseNum(0L, 50L))
    check(Prop.forAll(valsGen) { vs =>
      vs.map(BigInt(_)).sum == 0 || {
        // engine form: histogram walk with doubled-average ranks
        val hist = vs.groupBy(identity).view.mapValues(_.length.toLong)
          .toSeq.sortBy(_._1)
        var cumprev = 0L
        var rterm = BigInt(0); var wsum = BigInt(0)
        hist.foreach { case (v, cnt) =>
          rterm += BigInt(v) * cnt * (2 * cumprev + cnt)
          wsum += BigInt(v) * cnt
          cumprev += cnt
        }
        val n = vs.length
        val grouped = (rterm - wsum * n).toDouble / (wsum * n).toDouble
        // textbook form: sorted list, G = sum x_i (2i - n - 1) / (n sum x)
        val s = vs.sorted
        val num = s.zipWithIndex
          .map { case (x, i) => BigInt(x) * (2 * (i + 1) - n - 1) }.sum
        val direct = num.toDouble / (wsum * n).toDouble
        math.abs(grouped - direct) < 1e-12
      }
    })
  }

  test("doubled-rank U equals the brute pair count at any tie structure (X148)") {
    val g = Gen.listOfN(20, Gen.zip(Gen.oneOf(true, false),
      Gen.chooseNum(0L, 6L))) // tiny domain forces heavy ties
    check(Prop.forAll(g) { rows =>
      val xs = rows.filter(_._1).map(_._2)
      val ys = rows.filterNot(_._1).map(_._2)
      xs.isEmpty || ys.isEmpty || {
        // engine form: histogram + doubled average ranks
        val hist = (xs ++ ys).groupBy(identity).view.mapValues { _ => () }
          .keys.toSeq.sorted
        var cum = 0L
        var r2x = 0L
        hist.foreach { v =>
          val cx = xs.count(_ == v).toLong
          val cy = ys.count(_ == v).toLong
          r2x += (2 * cum + cx + cy + 1) * cx
          cum += cx + cy
        }
        val u2 = r2x - xs.length.toLong * (xs.length + 1)
        // brute: 2*#(x>y) + #(x==y)
        val brute = xs.map { x =>
          2L * ys.count(x > _) + ys.count(x == _)
        }.sum
        u2 == brute
      }
    })
  }

  test("integer TVD is symmetric, bounded, and zero iff distributions equal (X149)") {
    val g = Gen.listOfN(25, Gen.zip(Gen.oneOf(true, false),
      Gen.chooseNum(0L, 4L)))
    check(Prop.forAll(g) { rows =>
      val a = rows.filter(_._1).map(_._2)
      val b = rows.filterNot(_._1).map(_._2)
      a.isEmpty || b.isEmpty || {
        def num(p: List[Long], q: List[Long]): Long =
          (p ++ q).distinct.map { v =>
            math.abs(p.count(_ == v).toLong * q.length -
              q.count(_ == v).toLong * p.length)
          }.sum
        val nab = num(a, b)
        val tvd = nab.toDouble / (2.0 * a.length * b.length)
        num(b, a) * 1L == nab &&
          tvd >= 0.0 && tvd <= 1.0 &&
          ((tvd == 0.0) == {
            (a ++ b).distinct.forall(v =>
              a.count(_ == v).toLong * b.length ==
                b.count(_ == v).toLong * a.length)
          })
      }
    })
  }

  test("Num.divLong is exact past 2^53, where double division goes wrong") {
    val d = 10000L
    // scalacheck over the hazardous magnitudes: dividends up to Long.MaxValue
    check(Prop.forAll(Gen.chooseNum(0L, Long.MaxValue - 1)) { x =>
      val got = Seq(x).toDF("x")
        .select(graft.engine.Num.divLong(col("x"), d)).head().getLong(0)
      got == x / d
    })
    // and the pre-fix formula (double divide, cast long) is DEMONSTRABLY
    // wrong in that range -- this is what the round-8 ADVICE item was about.
    // Divergence needs x just BELOW a multiple of d: the float rounding of
    // x (ulp 1024 at 9e18) carries the quotient ACROSS the integer
    // boundary, so truncation lands one too high.
    val hazard = Seq(900000000000000L * d - 1, 700000000000000L * d - 1,
      (1L << 59) / d * d - 1)
    val bad = hazard.toDF("x")
      .select((col("x") / lit(d)).cast("long").as("bad")).collect().map(_.getLong(0))
    assert(hazard.zip(bad).exists { case (x, b) => b != x / d },
      "expected the double-division formula to diverge somewhere past 2^53")
  }

  test("manifest writer/parser roundtrip survives arbitrary JSON-active strings") {
    import graft.engine.TableCommit
    import graft.engine.TableCommit.{ColStats, Entry}
    // strings drawn to be HOSTILE to a hand-rolled JSON subset: quotes,
    // backslashes, braces, colons, commas, unicode — everything the
    // escaper and the line scanner must round-trip exactly. CONTROL
    // CHARACTERS INCLUDED: stat strings come verbatim from parquet
    // footer UTF8 min/max, so a string column CAN put \n or \r into a
    // stat value (the r10 exclusion "no stat value can contain one" was
    // false — ADVICE r10 high); an unescaped one splits the
    // line-delimited manifest and tears a successfully-published table.
    val nastyChar = Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('"', '\\', '{', '}', ':', ',', ' ',
        '[', ']', 'é', '中', '\n', '\r', '\t', 0x00.toChar, 0x1f.toChar))
    val nasty = Gen.choose(0, 24)
      .flatMap(n => Gen.listOfN(n, nastyChar)).map(_.mkString)
    val statGen = Gen.mapOf(Gen.zip(
      Gen.identifier.map(_.take(8)),
      Gen.zip(nasty, nasty).map { case (a, b) => ColStats(a, b) }))
      .map(_.take(3))
    val entryGen = for {
      path <- nasty
      part <- Gen.option(nasty)
      st   <- statGen
      rows <- Gen.option(Gen.choose(0L, Long.MaxValue))
    } yield Entry(path, part, st, rows)
    check(Prop.forAll(Gen.listOfN(4, entryGen)) { es =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_prop_manifest_").toString
      TableCommit.publish(root, es)
      TableCommit.entries(root) == es
    })
  }

  test("FastSS property: any single edit leaves a shared deletion signature") {
    // the q_edit_pairs losslessness claim as a generator-driven law:
    // for ANY base string and ANY single edit (substitution, insertion,
    // deletion), the deletion-neighborhood signature sets intersect —
    // so the signature equi-join can never miss an ED<=1 pair.
    def sigs(w: String): Set[String] =
      Set(w) ++ w.indices.map(i => w.take(i) + w.drop(i + 1))
    val alpha = Gen.alphaLowerChar
    val baseGen = for {
      n <- Gen.choose(1, 12)
      cs <- Gen.listOfN(n, alpha)
    } yield cs.mkString
    val editGen = for {
      w <- baseGen
      kind <- Gen.choose(0, 2)
      i <- Gen.choose(0, math.max(w.length - 1, 0))
      c <- alpha
    } yield kind match {
      case 0 => (w, w.updated(i, c))                   // substitution
      case 1 => (w, w.take(i) + c + w.drop(i))          // insertion
      case _ => (w, w.take(i) + w.drop(i + 1))          // deletion
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(editGen) { case (a, b) =>
        a == b || b.isEmpty || sigs(a).intersect(sigs(b)).nonEmpty
      })
    assert(res.passed, s"property failed: ${res.status}")
  }
}
