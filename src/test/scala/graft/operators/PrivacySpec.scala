package graft.operators

import graft.functions.DedupFunctions
import graft.ingest.SparkSpec
import org.apache.spark.sql.functions._

/** Privacy-release laws: the geometric-mechanism threshold table is the
  * exact inverse CDF (checked against independent BigInt math and an
  * independent JVM-hash reference walk), the release is deterministic in
  * the seed, and k-anonymity suppression accounting matches the actual
  * row-level release.
  */
class PrivacySpec extends SparkSpec {

  test("geometricThresholds is the exact CDF table: strictly increasing, " +
      "with the alpha=1/2 mass split 1/3 | 1/3 | 1/3 around zero at cap=1") {
    val t1 = Privacy.geometricThresholds(1)
    val full = BigInt(2).pow(64)
    assert(t1.length === 2)
    assert(t1(0) === full / 3) // F(-1) = 1/3 (floor)
    assert(t1(1) === full - (full + 2) / 3) // F(0) = 2/3
    val t20 = Privacy.geometricThresholds(20)
    assert(t20 === t20.sorted)
    assert(t20.distinct.length === t20.length)
    // P(0) = 1/3 = 2·P(-1); steps double toward 0 (up to floor error)
    val m0 = t20(20) - t20(19) // mass of x = 0
    val m1 = t20(19) - t20(18) // mass of x = -1
    assert((m0 - 2 * m1).abs <= 2 && (m0 - full / 3).abs <= 1)
    assert(((t20(2) - t20(1)) - 2 * (t20(1) - t20(0))).abs <= 1)
  }

  test("the general rational-alpha table is the exact CDF: alpha=3/4 " +
      "masses match the closed forms, and alpha=1/2 reproduces the " +
      "original table") {
    val full = BigInt(2).pow(64)
    val t34 = Privacy.geometricThresholds(2, 3, 4)
    // F(-2) = (9/16)/(7/4) = 9/28 ; F(-1) = 3/7 ; F(0) = 4/7
    assert(t34(0) === full * 9 / 28)
    assert(t34(1) === full * 3 / 7)
    assert((t34(2) - full * 4 / 7).abs <= 1)
    // P(0) = (1-a)/(1+a) = 1/7
    assert(((t34(2) - t34(1)) - full / 7).abs <= 1)
    assert(Privacy.geometricThresholds(20, 1, 2) ===
      Privacy.geometricThresholds(20))
  }

  test("noisySums: clipping bounds every unit's contribution, the noise " +
      "matches an independent BigInt walk on the alpha=3/4 table") {
    val s = spark
    import s.implicits._
    // unit u contributes value 2.5 three times (total 7.5 -> floor 7)
    // except unit 0 which contributes 1000 (clips to 10)
    val df = (0 until 40).flatMap { u =>
      val v = if (u == 0) 1000.0 else 2.5
      Seq.tabulate(3)(i => (s"g${u % 4}", s"u$u", v))
    }.toDF("grp", "unit", "v")
    val out = Privacy.noisySums(df, Seq("grp"), "unit", "v",
      clip = 10L, seed = 3L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_units"), r.getAs[Long]("sum_clipped"),
          r.getAs[Long]("noise"), r.getAs[Long]("sum_noisy"))).toMap
    // each group has 10 units; g0 holds the clipped whale:
    // 9 honest units floor(7.5)=7 each + 10 (clipped) = 73
    assert(out("g0")._1 === 10L && out("g0")._2 === 73L)
    assert(out("g1")._2 === 70L)
    val ts = Privacy.geometricThresholds(60, 3, 4)
    val seedMix = DedupFunctions.splitmix64(3L)
    out.foreach { case (g, (_, sc, noise, noisy)) =>
      val u = DedupFunctions.splitmix64(
        DedupFunctions.fnv1a64(s"${g.length}:$g") ^ seedMix)
      val uu = BigInt(u) & ((BigInt(1) << 64) - 1)
      val expected = ts.indexWhere(uu < _) match {
        case -1 => 60L
        case j  => (j - 60).toLong
      }
      assert(noise === expected, s"group $g")
      assert(noisy === math.max(0L, sc + noise))
    }
  }

  test("noisySums at cap 60 runs with spark.sql.codegen.fallback off: " +
      "its whole-stage code compiles") {
    val s = spark
    import s.implicits._
    val df = (0 until 40).map(u => (s"g${u % 4}", s"u$u", 2.5))
      .toDF("grp", "unit", "v")
    val key = "spark.sql.codegen.fallback"
    val prior = s.conf.getOption(key)
    s.conf.set(key, "false")
    try {
      val out = Privacy.noisySums(df, Seq("grp"), "unit", "v",
        clip = 10L, seed = 3L, cap = 60).collect()
      assert(out.length === 4)
    } finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  test("geometricNoise's one-array lookup equals the scalar table walk " +
      "at every threshold and at each threshold +-1") {
    val s = spark
    import s.implicits._
    val mask = (BigInt(1) << 64) - 1
    Seq(Privacy.geometricThresholds(20),
        Privacy.geometricThresholds(60, 3, 4)).foreach { ts =>
      val cap = ts.size / 2
      val us = (ts.flatMap(t => Seq(t - 1, t, t + 1)) ++
        Seq(BigInt(0), mask)).map(_ & mask).distinct
      val got = us.map(_.longValue).toDF("u")
        .select(col("u"), Privacy.geometricNoise(col("u"), ts))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      us.foreach { uu =>
        val expected = ts.indexWhere(uu < _) match {
          case -1 => cap.toLong
          case j  => (j - cap).toLong
        }
        assert(got(uu.longValue) === expected, s"cap $cap, u = $uu")
      }
    }
  }

  test("noisyCounts noise equals an independent BigInt inverse-CDF walk " +
      "over the same hash family (JVM functions, not the codegen path)") {
    val s = spark
    import s.implicits._
    val df = Seq.tabulate(200)(i => (s"g${i % 50}", i))
      .toDF("grp", "v")
    val out = Privacy.noisyCounts(df, Seq("grp"), seed = 7L, cap = 20)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n"), r.getAs[Long]("noise"),
          r.getAs[Long]("n_noisy"))).toMap
    assert(out.size === 50)
    val ts = Privacy.geometricThresholds(20)
    val seedMix = DedupFunctions.splitmix64(7L)
    out.foreach { case (g, (n, noise, noisy)) =>
      val u = DedupFunctions.splitmix64(
        DedupFunctions.fnv1a64(s"${g.length}:$g") ^ seedMix)
      val uu = BigInt(u) & ((BigInt(1) << 64) - 1) // unsigned view
      val expected = ts.indexWhere(uu < _) match {
        case -1 => 20L
        case j  => (j - 20).toLong
      }
      assert(noise === expected, s"group $g")
      assert(noisy === math.max(0L, n + noise))
    }
    // symmetric-ish noise over 50 draws: not all one sign
    assert(out.values.exists(_._2 > 0) && out.values.exists(_._2 < 0))
  }

  test("noisyCounts is deterministic in the seed and changes with it") {
    val s = spark
    import s.implicits._
    val df = Seq.tabulate(100)(i => (s"g${i % 20}", i)).toDF("grp", "v")
    def run(seed: Long) = Privacy.noisyCounts(df, Seq("grp"), seed)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("noise")).toMap
    assert(run(1L) === run(1L))
    assert(run(1L) !== run(2L))
  }

  test("generalizeToK: large classes keep the child key, small ones " +
      "merge to the parent, still-small merges suppress; mass conserved") {
    val s = spark
    import s.implicits._
    // child->parent: a,b -> P ; c -> Q
    val hier = Seq(("a", "P"), ("b", "P"), ("c", "Q")).toDF("child", "parent")
    val df = (Seq.fill(12)("a") ++ Seq.fill(4)("b") ++ Seq.fill(7)("a2") ++
      Seq.fill(3)("c")).zipWithIndex
      .map { case (q, i) => (q, "seg", i) }
      .toDF("qi0", "seg", "id")
    // classes: a=12 (>=10, child), b=4 + a2... a2 has no parent row!
    val hier2 = hier.union(Seq(("a2", "P")).toDF("child", "parent"))
    val out = Privacy.generalizeToK(df, "qi0", Seq("seg"), hier2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n"))).toSet
    // b(4) + a2(7) merge to P = 11 >= 10 released at parent;
    // c(3) merges to Q = 3 < 10 -> suppressed
    assert(out === Set(("child", "a", 12L), ("parent", "P", 11L),
      ("suppressed", "*", 3L)))
    // mass conservation: released + suppressed = all rows
    assert(out.toSeq.map(_._3).sum === 26L)
  }

  test("generalizeToK: a small class with NO parent mapping routes " +
      "to the suppressed bucket — no row vanishes from the audit") {
    val s = spark
    import s.implicits._
    val hier = Seq(("a", "P")).toDF("child", "parent")
    val df = (Seq.fill(12)("a") ++ Seq.fill(5)("orphan"))
      .zipWithIndex.map { case (q, i) => (q, "seg", i) }
      .toDF("qi0", "seg", "id")
    val out = Privacy.generalizeToK(df, "qi0", Seq("seg"), hier, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n"))).toSet
    assert(out === Set(("child", "a", 12L), ("suppressed", "*", 5L)))
    assert(out.toSeq.map(_._3).sum === 17L)
  }

  test("noisyCounts: groups that collide under a delimiter join " +
      "('a|b') vs ('a','b') draw DIFFERENT noise — the injective key") {
    val s = spark
    import s.implicits._
    val df = (Seq.tabulate(20)(i => ("a|", "b", i)) ++
      Seq.tabulate(20)(i => ("a", "|b", i))).toDF("g1", "g2", "v")
    val out = Privacy.noisyCounts(df, Seq("g1", "g2"), seed = 5L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("noise")).toMap
    assert(out.size === 2)
    // concat_ws('|', ...) keyed both groups as 'a||b' -> same noise;
    // the length-prefixed key must separate them (checked for this
    // seed; the key itself is injective for ALL inputs)
    assert(out(("a|", "b")) !== out(("a", "|b")))
  }

  test("eraseUnits removes exactly the audit's rows; mass conserved") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i.toLong % 10, s"g${i % 3}", i))
      .toDF("unit", "grp", "v")
    val dead = Seq(2L, 5L).toDF("unit")
    val erased = Privacy.eraseUnits(df, "unit", dead)
    assert(erased.filter(col("unit").isin(2L, 5L)).count() === 0)
    val audit = Privacy.erasureAudit(df, "unit", dead, Seq("grp"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("rows_before"), r.getAs[Long]("rows_removed"),
          r.getAs[Long]("rows_after"), r.getAs[Long]("units_erased")))
      .toMap
    audit.values.foreach { case (b, r, a, _) => assert(b === r + a) }
    assert(audit.values.map(_._2).sum === 20L) // 2 units x 10 rows
    assert(erased.count() === audit.values.map(_._3).sum)
    audit.values.foreach { case (_, _, _, u) => assert(u <= 2L) }
  }

  test("k-anonymity: suppression accounting matches the row-level release") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(12)(("DE", "a")) ++ Seq.fill(3)(("DE", "b")) ++
      Seq.fill(10)(("FR", "a")) ++ Seq.fill(9)(("FR", "b")))
      .zipWithIndex.map { case ((c1, c2), i) => (c1, c2, i) }
      .toDF("country", "segment", "id")
    val audit = Privacy.kAnonymityAudit(df, Seq("country", "segment"), k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Boolean]("suppressed"),
          r.getAs[Long]("n_released"))).toMap
    assert(audit(("DE", "a")) === ((12L, false, 12L)))
    assert(audit(("DE", "b")) === ((3L, true, 0L)))
    assert(audit(("FR", "b")) === ((9L, true, 0L)))
    val released = Privacy.suppressSmallGroups(df,
      Seq("country", "segment"), k = 10)
    assert(released.count() === audit.values.map(_._3).sum)
    // every released row's class is k-large
    assert(released.filter(col("country") === "DE" &&
      col("segment") === "b").count() === 0)
  }
}
