package graft

import graft.functions.{Exact, TSql, Text}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based invariants (SURVEY.md §5): T-SQL function algebra, window
  * identities, shingle/minhash behavior — checked over ScalaCheck-generated
  * inputs (sampled directly; the scalatest bridge artifact isn't on the
  * offline classpath).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def evalOne(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  private def forAll[T](g: Gen[T], n: Int = 20)(f: T => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).map(s => g.apply(Gen.Parameters.default, s))
      .collect { case Some(v) => v }.take(n).foreach(f)
  }

  test("cents round-trips every 2-decimal money value exactly") {
    // the oracle-parity primitive: for any value representable with 2
    // decimals, round(v*100) must recover the integer cents exactly —
    // including negatives and values whose double repr sits below the true
    // decimal (e.g. 0.29 -> 28.999999999999996 * 100)
    forAll(Gen.choose(-200000000000L, 200000000000L), n = 200) { c =>
      val v = c / 100.0
      assert(evalOne(TSql.cents(lit(v))) === c, s"v=$v")
    }
  }

  test("QUOTENAME round-trip: unquoting recovers the identifier") {
    forAll(Gen.alphaNumStr.suchThat(_.length <= 20)) { s0 =>
      val s = s0 + "]x]"
      val quoted = evalOne(TSql.quotename(lit(s))).asInstanceOf[String]
      assert(quoted.head == '[' && quoted.last == ']')
      val inner = quoted.substring(1, quoted.length - 1).replace("]]", "]")
      assert(inner === s)
    }
  }

  test("DATEADD(day) then DATEDIFF(day) is the identity for whole days") {
    forAll(Gen.choose(-2000, 2000)) { n =>
      val base = lit("2020-06-15 00:00:00").cast("timestamp")
      val got = evalOne(TSql.datediff("day", base, TSql.dateadd("day", n, base)))
      assert(got === n.toLong)
    }
  }

  test("LEN(s + trailing spaces) == LEN(s)") {
    forAll(Gen.zip(Gen.alphaStr.suchThat(_.length <= 30), Gen.choose(0, 5))) { case (s, pad) =>
      val l1 = evalOne(TSql.len(lit(s)))
      val l2 = evalOne(TSql.len(lit(s + " " * pad)))
      assert(l1 === l2)
    }
  }

  test("shingle count equals max(tokens - n + 1, 0)") {
    forAll(Gen.zip(Gen.choose(0, 12), Gen.choose(2, 4))) { case (nTok, n) =>
      val text = (1 to nTok).map(i => s"w$i").mkString(" ")
      if (nTok > 0) {
        val c = evalOne(size(Text.shingles(split(lit(text), " "), n)))
        assert(c === math.max(nTok - n + 1, 0))
      }
    }
  }

  test("running window sum over the whole partition equals the group sum") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"i")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0, 3), Gen.choose(-100, 100))), 5) { pairs =>
      if (pairs.nonEmpty) {
        val df = pairs.zipWithIndex
          .map { case ((k, v), i) => (k, i, v.toLong) }.toDF("k", "i", "v")
        val last = df.withColumn("run", sum($"v").over(w))
          .groupBy($"k").agg(max(struct($"i", $"run")).as("m"))
          .select($"k", $"m.run".as("final_run"))
        val direct = df.groupBy($"k").agg(sum($"v").as("total"))
        val joined = last.join(direct, "k")
          .filter($"final_run" =!= $"total")
        assert(joined.count() === 0)
      }
    }
  }

  test("moneyString renders any cents value losslessly with one sign") {
    forAll(Gen.choose(-200000000000L, 200000000000L), n = 200) { c =>
      val s = evalOne(TSql.moneyString(lit(c))).asInstanceOf[String]
      // grammar: optional '-', digits, '.', exactly two digits
      assert(s.matches("-?\\d+\\.\\d{2}"), s)
      // lossless: parse back to the original cents
      val neg = s.startsWith("-")
      val Array(whole, frac) = s.stripPrefix("-").split("\\.")
      val back = (whole.toLong * 100 + frac.toLong) * (if (neg) -1 else 1)
      assert(back === c, s"c=$c s=$s")
    }
  }

  test("banded pair generation: fan-out is m(m-1)/2 under the cap, 0 above") {
    import graft.operators.SimilarityQueries
    forAll(Gen.zip(Gen.choose(0, 40), Gen.choose(1, 30)), n = 15) {
      case (m, cap) =>
        val banded = (1L to m.toLong).map(id => (id, 0, 7L))
          .toDF("vec_id", "band_idx", "band_val")
        val got = SimilarityQueries.bandedPairs(banded, cap).count()
        val expect = if (m >= 2 && m <= cap) m.toLong * (m - 1) / 2 else 0L
        assert(got === expect, s"m=$m cap=$cap")
    }
  }

  test("identical shingle sets give identical minhash; estimate bounded by [0,1]") {
    forAll(Gen.listOfN(8, Gen.identifier.suchThat(_.nonEmpty)), 10) { words =>
      if (words.size >= 4) {
        val t = words.mkString(" ")
        val sig1 = evalOne(Text.minhashSignature(Text.shingleSet(lit(t), 2), 8))
        val sig2 = evalOne(Text.minhashSignature(Text.shingleSet(lit(t), 2), 8))
        assert(sig1 === sig2)
      }
    }
  }

  test("U-curve largest-remainder credits conserve any amount over any path") {
    // the q166 weight scheme as pure arithmetic: for every path length m
    // and amount v, floor shares + top-remainder cents sum EXACTLY to v,
    // and every credit sits within one cent of its real share
    forAll(Gen.zip(Gen.choose(1, 25), Gen.choose(0L, 2000000000L)), n = 60) {
      case (m, v) =>
        val num = (1 to m).map { rn =>
          if (m <= 2) 1L
          else if (rn == 1 || rn == m) 4L * (m - 2)
          else 2L
        }
        val den = if (m == 1) 1L else if (m == 2) 2L else 10L * (m - 2)
        assert(num.sum === den, s"m=$m")
        val base = num.map(n => v * n / den)
        val rem = num.map(n => v * n % den)
        val leftover = v - base.sum
        assert(leftover >= 0 && leftover < m, s"m=$m v=$v")
        val rk = rem.zipWithIndex.sortBy { case (r, i) => (-r, i) }
          .map(_._2).zipWithIndex.toMap // position -> rank
        val credit = base.zipWithIndex.map { case (b, i) =>
          b + (if (rk(i) < leftover) 1L else 0L)
        }
        assert(credit.sum === v, s"m=$m v=$v")
        credit.zip(num).foreach { case (c, n) =>
          assert(math.abs(c * den - v * n) <= den, s"m=$m v=$v")
        }
    }
  }

  test("Spark div matches BigInt truncation toward zero for any sign") {
    // the sign-factored division contract q167/q175/q177 build on
    forAll(Gen.zip(Gen.choose(-1000000000000L, 1000000000000L),
      Gen.choose(1L, 999999L)), n = 40) { case (num, den) =>
      val got = evalOne(expr(s"CAST($num div $den AS BIGINT)"))
      assert(got === (BigInt(num) / BigInt(den)).toLong, s"$num div $den")
    }
    // ... and so does every Spark-side spelling in functions/Exact: one
    // query per helper over generated (num, den) cases, each checked
    // against BigInt truncation. DECIMAL(38,0) helpers take numerators
    // past the Long range; the Signed ones take negative denominators.
    def cases(num: Gen[BigInt], den: Gen[Long]): Seq[(BigInt, BigInt)] = {
      val out = Seq.newBuilder[(BigInt, BigInt)]
      forAll(Gen.zip(num, den), n = 24) { case (a, b) => out += a -> BigInt(b) }
      out.result() ++ Seq(BigInt(0) -> BigInt(7), BigInt(-14) -> BigInt(7),
        BigInt(-13) -> BigInt(7), BigInt(13) -> BigInt(7))
    }
    def big(lo: Long): Gen[BigInt] = // |n| < 10^25, past the Long range
      Gen.zip(Gen.choose(lo, 9999999999999L), Gen.choose(0L, 999999999999L))
        .map { case (hi, l) => BigInt(hi) * BigInt(1000000000000L) + l }
    val signedBig = big(-9999999999999L)
    val longs = Gen.choose(-1000000000000000000L, 1000000000000000000L)
      .map(BigInt(_))
    val pos = Gen.choose(1L, 999999L)
    val anySign = Gen.oneOf(pos, pos.map(-_))
    def asDec(n: BigInt) = s"CAST('$n' AS DECIMAL(38,0))"
    def asLong(n: BigInt) = s"CAST($n AS BIGINT)"
    def check(name: String, f: (String, String) => String,
        cs: Seq[(BigInt, BigInt)], numSql: BigInt => String,
        expect: (BigInt, BigInt) => BigInt = _ / _): Unit = {
      val row = Seq(1).toDF("x").select(cs.map { case (n, d) =>
        expr(f(numSql(n), d.toString)) }: _*).head()
      cs.zipWithIndex.foreach { case ((n, d), i) =>
        val got = row.get(i) match {
          case b: java.math.BigDecimal => BigInt(b.toBigIntegerExact)
          case v: Long => BigInt(v)
          case v: Int => BigInt(v)
        }
        assert(got === expect(n, d), s"$name($n, $d)")
      }
    }
    import Exact._
    def nonNeg(cs: Seq[(BigInt, BigInt)]) = cs.filter(_._1 >= 0)
    check("fdiv", fdiv, nonNeg(cases(big(0L), pos)), asDec)
    check("fdivBigint", fdivBigint, nonNeg(cases(longs.map(_.abs), pos)), asDec)
    check("sdiv", sdiv, cases(signedBig, pos), asDec)
    check("sdivBigint", sdivBigint, cases(longs, pos), asDec)
    check("sdivSigned", sdivSigned, cases(signedBig, anySign), asDec)
    check("sdivSignedDiv", sdivSignedDiv, cases(longs, anySign), asDec)
    check("sdivDiv", sdivDiv, cases(longs, pos), asLong)
    check("sdivE6", sdivE6,
      cases(Gen.choose(-1000000000000L, 1000000000000L).map(BigInt(_)), pos),
      asLong, (n, d) => n * 1000000 / d)
    cases(longs, pos).foreach { case (n, d) =>
      assert(sdivLong(n.toLong, d.toLong) === (n / d).toLong, s"sdivLong($n, $d)")
      assert(sdivLong(n, d) === (n / d).toLong, s"sdivLong(BigInt $n, $d)")
    }
  }

  test("rank-sum AUC identity equals pairwise counting on random labels") {
    // the q164 formula as pure arithmetic over random (score, label) sets
    val g = Gen.listOfN(30, Gen.zip(Gen.choose(-5L, 5L), Gen.oneOf(0L, 1L)))
    forAll(g, n = 30) { pts =>
      val pos = pts.filter(_._2 == 1L).map(_._1)
      val neg = pts.filter(_._2 == 0L).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        // distinct-score rollup formulation (what the query computes)
        val byScore = pts.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (s, xs) => (s, xs.count(_._2 == 1L).toLong,
            xs.count(_._2 == 0L).toLong)
        }
        var negBelow = 0L
        var u2 = 0L
        byScore.foreach { case (_, p, n) =>
          u2 += p * (2 * negBelow + n); negBelow += n
        }
        // ground truth: pairwise wins + half-ties
        val wins = (for (p <- pos; n <- neg) yield
          (if (p > n) 2L else if (p == n) 1L else 0L)).sum
        assert(u2 === wins, s"pts=$pts")
      }
    }
  }

  test("event-differencing equals interval sweeping at every change day") {
    // the q171 scheme over random (possibly inverted) intervals
    val g = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 30L), Gen.choose(-5L, 35L)))
    forAll(g, n = 30) { iv0 =>
      val iv = iv0.map { case (s, c) => (s, math.max(s, c)) } // clamp as q171
      val deltas = iv.flatMap { case (s, c) => Seq((s, 1L), (c + 1, -1L)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      var acc = 0L
      deltas.foreach { case (d, net) =>
        acc += net
        val open = iv.count { case (s, c) => s <= d && d <= c }.toLong
        assert(acc === open, s"day $d of $iv")
      }
      assert(acc === 0L, "every interval eventually closes")
    }
  }
  test("SRM integer chi-square tracks the float statistic for any design") {
    // chi2 = D^2 / (N*tn*(td-tn)) with D = a*td - N*tn (derived closed
    // form); the e6 integer quantization must floor the float value
    val g = for {
      n <- Gen.choose(10L, 1000000L)
      a <- Gen.choose(0L, 1000000L).suchThat(_ <= 1000000L)
      (tn, td) <- Gen.oneOf((1L, 2L), (1L, 10L), (3L, 10L), (1L, 4L))
    } yield (n, math.min(a, n), tn, td)
    forAll(g, n = 200) { case (n, a, tn, td) =>
      val d = a * td - n * tn
      val chi2e6 = (BigInt(d) * d * 1000000 / (n * tn * (td - tn))).toLong
      val ea = n.toDouble * tn / td
      val eb = n.toDouble * (td - tn) / td
      val fl = math.pow(a - ea, 2) / ea + math.pow(n - a - eb, 2) / eb
      assert(math.abs(chi2e6 / 1e6 - fl) <= fl * 1e-9 + 2e-6,
        s"n=$n a=$a $tn/$td int=${chi2e6 / 1e6} float=$fl")
    }
  }

  test("snake sharding on sorted input stays within one item of balance") {
    val g = Gen.listOfN(64, Gen.choose(1L, 10000L))
    forAll(g, n = 50) { items0 =>
      val items = items0.sortBy(-_)
      val nsh = 8
      val masses = new Array[Long](nsh)
      items.zipWithIndex.foreach { case (tok, idx) =>
        val shard = if ((idx / nsh) % 2 == 0) idx % nsh
          else nsh - 1 - (idx % nsh)
        masses(shard) += tok
      }
      // boustrophedon bound: spread never exceeds twice the largest item
      assert(masses.max - masses.min <= 2 * items.head,
        s"spread ${masses.max - masses.min} vs head ${items.head}")
    }
  }

  test("integer lift ratio preserves PMI ordering for positive counts") {
    val g = for {
      n <- Gen.choose(1000L, 100000L)
      cxy1 <- Gen.choose(5L, 100L); cx1 <- Gen.choose(100L, 1000L)
      cy1 <- Gen.choose(100L, 1000L)
      cxy2 <- Gen.choose(5L, 100L); cx2 <- Gen.choose(100L, 1000L)
      cy2 <- Gen.choose(100L, 1000L)
    } yield (n, cxy1, cx1, cy1, cxy2, cx2, cy2)
    forAll(g, n = 200) { case (n, cxy1, cx1, cy1, cxy2, cx2, cy2) =>
      def liftE6(cxy: Long, cx: Long, cy: Long) =
        (BigInt(cxy) * n * 1000000 / (BigInt(cx) * cy)).toLong
      def pmi(cxy: Long, cx: Long, cy: Long) =
        math.log(cxy.toDouble * n / (cx.toDouble * cy))
      val (l1, l2) = (liftE6(cxy1, cx1, cy1), liftE6(cxy2, cx2, cy2))
      val (p1, p2) = (pmi(cxy1, cx1, cy1), pmi(cxy2, cx2, cy2))
      // a strict integer-lift order can never contradict the PMI order
      if (l1 > l2) assert(p1 >= p2 - 1e-12)
      if (l2 > l1) assert(p2 >= p1 - 1e-12)
    }
  }

  test("phoneticKey is total and always letter + exactly 3 digits") {
    forAll(Gen.asciiPrintableStr.suchThat(_.length <= 30), n = 100) { s =>
      val k = evalOne(TSql.phoneticKey(lit(s))).asInstanceOf[String]
      assert(k.matches("[A-Z]?[0-9]{3}"), s"input=<$s> key=<$k>")
    }
    // same word, any case or punctuation noise -> same key
    forAll(Gen.alphaStr.suchThat(s => s.nonEmpty && s.length <= 15)) { w =>
      val a = evalOne(TSql.phoneticKey(lit(w.toLowerCase))).asInstanceOf[String]
      val b = evalOne(TSql.phoneticKey(lit(w.toUpperCase + "!?"))).asInstanceOf[String]
      assert(a === b)
    }
  }

  test("Poisson(1) threshold weights have mean near 1 over uniform draws") {
    // the q252 replicate-weight map: over the whole e6 draw space the
    // expected weight telescopes to Sum(1e6 - t_i)/1e6 ~ 0.99999
    val ts = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L,
      999917L)
    val total = ts.map(t => 1000000L - t).sum
    assert(total > 995000L && total < 1005000L,
      s"mean weight ${total / 1e6} drifted from 1")
    // weights are monotone in the draw
    forAll(Gen.choose(0L, 999998L)) { u =>
      def w(x: Long) = ts.count(_ <= x)
      assert(w(u) <= w(u + 1))
    }
  }

  test("truncating product-limit survival is monotone for any event history") {
    // the q259 fold: S' = S*(n-d) DIV n can never increase and never go
    // negative, whatever the (n, d) sequence
    forAll(Gen.listOfN(12, Gen.choose(0L, 50L)), n = 50) { ds =>
      var n = ds.sum + 7
      var s = 1000000L
      ds.foreach { d =>
        val s2 = s * (n - d) / n
        assert(s2 <= s && s2 >= 0L)
        s = s2; n -= d
      }
    }
  }

  test("croston interval smoothing never drops below one week") {
    // p' = (2q*1e6 + 8p) DIV 10 with q >= 1 and p >= 1e6 stays >= 1e6
    forAll(Gen.listOfN(10, Gen.choose(1L, 100L)), n = 50) { gaps =>
      var p = 1000000L
      gaps.foreach { q =>
        p = (2 * q * 1000000L + 8 * p) / 10
        assert(p >= 1000000L)
      }
    }
  }

  test("Prefix devices equal their global windows on random frames") {
    // randomized complement to PrefixSpec's deterministic adversarial
    // shapes: frame size, value range (duplicates vs sparse), and signed
    // weights all drawn per iteration; all four devices checked against
    // the single-window truth they replace
    import org.apache.spark.sql.expressions.Window
    val genFrame = for {
      n <- Gen.choose(2, 120)
      mod <- Gen.oneOf(3L, 17L, 5000L)
      seed <- Gen.choose(1L, 1000000L)
    } yield (n, mod, seed)
    forAll(genFrame, n = 5) { case (n, mod, seed) =>
      val rows = (1 to n).map { i =>
        val h = ((i * 2654435761L) ^ (i.toLong * seed)).abs
        (h % mod - mod / 3, i.toLong, (h / 11 % 21) - 10)
      }
      val df = rows.toDF("v", "t", "w").repartition(3)
      val asc = Window.orderBy(col("v"), col("t"))
      val excl = asc.rowsBetween(Window.unboundedPreceding, -1)
      def same(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame, tag: String): Unit =
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$tag n=$n mod=$mod seed=$seed")
      val cols = Seq(col("v"), col("t"), col("w"), col("o"))
      same(operators.Prefix.runningSum(df, "v", Seq("t"), "w", "o")
          .select(cols: _*),
        df.withColumn("o", coalesce(sum(col("w")).over(excl), lit(0L))),
        "runningSum")
      same(operators.Prefix.runningMax(df, "v", Seq("t"), "w", "o")
          .select(cols: _*),
        df.withColumn("o", max(col("w")).over(excl)), "runningMax")
      same(operators.Prefix.lagOver(df, "v", Seq("t"), "w", "o")
          .select(cols: _*),
        df.withColumn("o", lag(col("w"), 1).over(asc)), "lagOver")
      same(operators.Prefix.leadOver(df, "v", Seq("t"), "w", "o")
          .select(cols: _*),
        df.withColumn("o", lead(col("w"), 1).over(asc)), "leadOver")
    }
  }

  test("Tukey moment fold equals the per-cell definitions on any grid") {
    // q470's fold expands P, e2, Q_a and Q_b from global moments; on
    // full, ragged (missing cells) and 1×k grids of integers the expansion
    // must equal the direct per-cell sums, computed here in BigInt
    def direct(cells: Seq[(Long, Long, Long)]): Seq[BigInt] = {
      val ri = cells.groupBy(_._1).view.mapValues(_.map(x => BigInt(x._3)).sum).toMap
      val cj = cells.groupBy(_._2).view.mapValues(_.map(x => BigInt(x._3)).sum).toMap
      val (r, c) = (BigInt(ri.size), BigInt(cj.size))
      val gt = cells.map(x => BigInt(x._3)).sum
      val p = cells.map { case (m, g, y) => (r * ri(m) - gt) * (c * cj(g) - gt) * y }.sum
      val e2 = cells.map { case (m, g, y) =>
        val t = r * c * y - r * ri(m) - c * cj(g) + gt; t * t }.sum
      val qa = ri.values.map(v => (r * v - gt) * (r * v - gt)).sum
      val qb = cj.values.map(v => (c * v - gt) * (c * v - gt)).sum
      Seq(r, c, gt, p, e2, qa, qb)
    }
    def folded(cells: Seq[(Long, Long, Long)]): Seq[BigInt] = {
      val row = operators.AuditQueries.tukeyFold(
        cells.toDF("mo", "g", "y").repartition(3)).collect().head
      Seq("r", "c", "gt", "p", "e2", "qa", "qb").map(k =>
        BigInt(row.getAs[java.math.BigDecimal](k).toBigIntegerExact))
    }
    val genGrid = for {
      r <- Gen.choose(1, 6)
      c <- Gen.choose(1, 5)
      keep <- Gen.oneOf(1.0, 0.6)
      draws <- Gen.listOfN(r * c,
        Gen.zip(Gen.prob(keep), Gen.choose(-1000L, 300000L)))
    } yield (for {
      ((kept, y), k) <- draws.zipWithIndex if kept
    } yield ((k / c) * 3L + 1L, (k % c).toLong + 1L, y))
    val oneByK = (1L to 5L).map(g => (7L, g, 1000L * g + 17L))
    val ragged = Seq((1L, 1L, 5L), (1L, 2L, 9L), (2L, 2L, -4L), (3L, 3L, 11L))
    (Seq(oneByK, ragged) ++ Iterator.iterate(org.scalacheck.rng.Seed(470L))(_.next)
      .map(sd => genGrid.apply(Gen.Parameters.default, sd))
      .collect { case Some(g) if g.nonEmpty => g }.take(12)).foreach { cells =>
      assert(folded(cells) === direct(cells), cells)
    }
  }
}
