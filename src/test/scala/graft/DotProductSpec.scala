package graft

import org.apache.spark.sql.functions._

/** Native codegen'd dot-product expression: parity with the higher-order
  * spelling, null contract, and codegen participation.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Seq(
    (0L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (1L, Seq(0.5f, -1.5f, 2.25f), Seq(-2.0f, 0.0f, 8.0f))
  ).toDF("id", "a", "b")

  test("graft_dot equals the aggregate/zip_with spelling bit-for-bit") {
    val hof = aggregate(
      zip_with(transform($"a", x => x.cast("double")),
        transform($"b", x => x.cast("double")), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = emb.select(call_function("graft_dot", $"a", $"b").as("native"),
      hof.as("reference")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows(0).getDouble(0) == 1.0 * 4 + 2.0 * 5 + 3.0 * 6)
  }

  test("graft_dot: null input yields null; wrong type rejected at analysis") {
    val withNull = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    val out = withNull.select(call_function("graft_dot", $"a", $"b")).collect()
    assert(out(0).isNullAt(0))
    val bad = Seq((Seq(1.0), Seq(2.0))).toDF("a", "b") // double arrays
    intercept[Exception] {
      bad.select(call_function("graft_dot", $"a", $"b")).collect()
    }
  }

  test("graft_l2q equals the aggregate/zip_with spelling and the hand value") {
    val df = Seq(
      (Seq(1L, 5L, -3L), Seq(4L, 5L, 7L)),
      (Seq(1048576L, -1048576L), Seq(-1048576L, 1048576L))
    ).toDF("a", "b")
    val hof = aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    val rows = df.select(call_function("graft_l2q", $"a", $"b").as("native"),
      hof.as("reference")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows(0).getLong(0) == 9L + 0L + 100L)
    assert(rows(1).getLong(0) == 2L * (2L * 1048576L) * (2L * 1048576L))
  }

  test("graft_l2q: null yields null, wrong type rejected, codegen participation") {
    val withNull = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(withNull.select(call_function("graft_l2q", $"a", $"b"))
      .collect()(0).isNullAt(0))
    val bad = Seq((Seq(1.0), Seq(2.0))).toDF("a", "b") // double arrays
    intercept[Exception] {
      bad.select(call_function("graft_l2q", $"a", $"b")).collect()
    }
    val df = spark.range(10)
      .select(array($"id" + 1, $"id" + 2).as("a"),
        array(lit(2L), lit(3L)).as("b"))
      .select(call_function("graft_l2q", $"a", $"b").as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [l2squaredlong"), plan)
    assert(df.agg(sum($"d")).as[Long].head() ==
      (0 until 10).map { i =>
        val d1 = (i + 1) - 2L; val d2 = (i + 2) - 3L; d1 * d1 + d2 * d2
      }.sum)
  }

  test("graft_dot participates in whole-stage codegen") {
    // range() is a codegen source (local Seqs collapse to LocalTableScan
    // and would never show a codegen stage).
    val df = spark.range(10)
      .select(array(($"id" + 1).cast("float"), ($"id" + 2).cast("float")).as("a"),
        array(lit(2.0f), lit(3.0f)).as("b"))
      .select(call_function("graft_dot", $"a", $"b").as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [dotproductfloat"), plan)
    assert(df.agg(sum($"d")).as[Double].head() ==
      (0 until 10).map(i => (i + 1.0) * 2.0 + (i + 2.0) * 3.0).sum)
  }

  test("graft_sdot: sorted-merge sparse dot — hand values, disjoint/empty/null, codegen participation") {
    def vec(entries: (String, Long)*) =
      array(entries.map { case (t, w) => struct(lit(t).as("t"), lit(w).as("w")) }: _*)
    // shared {b, d}: 2*20 + 5*7 = 75; a-only c/e and b-only f ignored
    val rows = Seq(
      (vec("a" -> 1L, "b" -> 2L, "d" -> 5L), vec("b" -> 20L, "d" -> 7L, "f" -> 9L), 75L),
      (vec("a" -> 1L), vec("b" -> 1L), 0L),              // disjoint
      (array().cast("array<struct<t:string,w:bigint>>"),
        vec("a" -> 1L), 0L),                              // empty side
      (vec("x" -> 3L), vec("x" -> 4L), 12L)               // single shared
    )
    rows.zipWithIndex.foreach { case ((a, b, want), i) =>
      val got = spark.range(1).select(call_function("graft_sdot", a, b).as("d"))
        .as[Long].head()
      assert(got == want, s"case $i: got $got want $want")
    }
    // null propagates
    val n = spark.range(1).select(
      call_function("graft_sdot", lit(null).cast(
        "array<struct<t:string,w:bigint>>"), vec("a" -> 1L))).collect()
    assert(n(0).isNullAt(0))
    // participates in whole-stage codegen (data-dependent arg so the
    // optimizer can't constant-fold the call away)
    val df = spark.range(10)
      .select(call_function("graft_sdot",
        array(struct(lit("a").as("t"), lit(2L).as("w")),
          struct(lit("b").as("t"), $"id".as("w"))),
        vec("b" -> 10L)).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Project [sparsedotsorted"), plan)
    assert(plan.contains("*(1)"), plan)
    assert(df.as[Long].collect().toSeq == (0 until 10).map(_ * 10L))
    // equals the interpreted map/intersect spelling on random data
    val rnd = new scala.util.Random(7)
    val fixture = (0 until 50).map { i =>
      def side = (0 to rnd.nextInt(7)).map(j =>
        (s"t${rnd.nextInt(10)}", rnd.nextInt(100).toLong))
        .groupBy(_._1).map { case (t, g) => (t, g.head._2) }.toSeq.sortBy(_._1)
      val (a, b) = (side, side)
      val want = a.toMap.map { case (t, w) => w * b.toMap.getOrElse(t, 0L) }.sum
      (i, a, b, want)
    }
    fixture.foreach { case (i, a, b, want) =>
      val got = spark.range(1)
        .select(call_function("graft_sdot", vec(a: _*), vec(b: _*)).as("d"))
        .as[Long].head()
      assert(got == want, s"random case $i")
    }
  }

  test("graft_ldot equals the aggregate/zip_with spelling and the hand value") {
    val df = Seq(
      (Seq(3L, -2L, 7L), Seq(10L, 100L, -1L)),
      (Seq(0L, 0L, 0L), Seq(1L, 2L, 3L))
    ).toDF("a", "b")
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val rows = df.select(call_function("graft_ldot", $"a", $"b").as("native"),
      hof.as("reference")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows(0).getLong(0) == 3L * 10 + -2L * 100 + 7L * -1)
    // null contract + codegen participation
    val withNull = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(withNull.select(call_function("graft_ldot", $"a", $"b"))
      .collect()(0).isNullAt(0))
    // codegen participation: a range-based frame (a local Seq constant-
    // folds to LocalTableScan before any codegen stage exists)
    val ranged = spark.range(5).select(
      call_function("graft_ldot",
        array($"id", $"id" * 2), array(lit(3L), lit(5L))).as("d"))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(ranged.as[Long].collect().toSeq ==
      (0 until 5).map(i => 3L * i + 5L * 2 * i))
  }

  test("graft_md5pre equals unhex(md5(concat)) and min-orders identically") {
    val df = Seq("alpha beta", "x", "", "ünïcode test").toDF("s")
    val rows = df.select(
      call_function("graft_md5pre", lit("3:"), $"s").as("native"),
      unhex(md5(concat(lit("3:"), $"s"))).as("reference")).collect()
    rows.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    }
    // the minhash contract: min over the BINARY digests + hex rebuild
    // equals min over the hex-string spelling
    val agg = df.agg(
      lower(hex(min(call_function("graft_md5pre", lit("3:"), $"s")))).as("n"),
      min(md5(concat(lit("3:"), $"s"))).as("r")).head()
    assert(agg.getString(0) == agg.getString(1))
  }

  test("graft_md5u32 equals the conv(substring(md5)) spelling over random strings") {
    val rnd = new scala.util.Random(13)
    val df = ((0 until 100).map(_ => rnd.nextString(rnd.nextInt(12))) ++
      Seq("", "token", "ünïcode")).toDF("t")
    val rows = df.select(
      call_function("graft_md5u32", $"t").as("native"),
      conv(substring(md5($"t"), 1, 8), 16, 10).cast("long").as("reference"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  /** Runs `body` with codegen fallback DISABLED, so a janino compile
    * failure throws instead of silently dropping the stage to the
    * interpreted path. The r16 Md5Uint32 fix exists because the plan
    * string alone can't catch this: "*(1)" markers are printed BEFORE
    * compilation, so every stage that janino later rejects still looks
    * codegen'd in the plan (the leading-'|' stripMargin bug shipped two
    * rounds behind exactly that blind spot).
    */
  private def noFallback[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.set("spark.sql.codegen.fallback", old)
  }

  test("graft_md5u32 actually COMPILES in whole-stage codegen (no silent interpreted fallback)") {
    noFallback {
      val df = spark.range(20)
        .select(call_function("graft_md5u32",
          concat(lit("w"), $"id".cast("string"))).as("h"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), plan)
      val got = df.as[Long].collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = (0 until 20).map { i =>
        val d = md.digest(s"w$i".getBytes("UTF-8"))
        ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      }
      assert(got.toSeq == want)
    }
  }

  test("graft_fddot equals the cast-then-multiply HOF spelling bit-for-bit; null + codegen contracts") {
    // the hyperplane components: 1e-6-grained doubles, NOT float-exact —
    // the reason this expression exists instead of casting planes to float
    val planes = Seq(0.000001, -0.333333, 0.999999)
    val df = Seq(
      Seq(1.5f, -2.25f, 3.125f),
      Seq(0.1f, 0.2f, 0.3f) // float-inexact values
    ).toDF("a").withColumn("b", array(planes.map(lit(_)): _*))
    val hof = aggregate(
      zip_with(transform($"a", x => x.cast("double")), $"b", (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(call_function("graft_fddot", $"a", $"b").as("native"),
      hof.as("reference")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // null input → null
    val withNull = Seq((Some(Seq(1.0f)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    assert(withNull.select(call_function("graft_fddot", $"a", $"b"))
      .collect()(0).isNullAt(0))
    // wrong types rejected at analysis (two float arrays = graft_dot's job)
    intercept[Exception] {
      Seq((Seq(1.0f), Seq(2.0f))).toDF("a", "b")
        .select(call_function("graft_fddot", $"a", $"b")).collect()
    }
    // codegen participation, with fallback disabled so it must compile
    noFallback {
      val ranged = spark.range(10)
        .select(call_function("graft_fddot",
          array(($"id" + 1).cast("float"), ($"id" + 2).cast("float")),
          array(lit(0.5), lit(-0.25))).as("d"))
      val plan = ranged.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project [graft_fddot"), plan)
      assert(ranged.as[Double].collect().toSeq ==
        (0 until 10).map(i => (i + 1.0) * 0.5 + (i + 2.0) * -0.25))
    }
  }

  test("ragged arrays yield NULL — graft_dot / graft_ldot / graft_l2q / graft_fddot, eval AND codegen") {
    // the documented HOF equivalence: zip_with null-pads the short side
    // and the null propagates through the sum — a truncated partial dot
    // would put a malformed embedding in a DIFFERENT md5/hyperplane
    // bucket than the otherwise-0 branch both spellings agree on
    val f = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val l = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
    val fd = Seq((Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    // interpreted path (LocalTableScan)
    assert(f.select(call_function("graft_dot", $"a", $"b")).collect()(0).isNullAt(0))
    assert(l.select(call_function("graft_ldot", $"a", $"b")).collect()(0).isNullAt(0))
    assert(l.select(call_function("graft_l2q", $"a", $"b")).collect()(0).isNullAt(0))
    assert(fd.select(call_function("graft_fddot", $"a", $"b")).collect()(0).isNullAt(0))
    // codegen path (range source), and the HOF twin agrees row-for-row
    noFallback {
      val ranged = spark.range(4).select(
        array($"id".cast("float")).as("a"),
        array(lit(1.0f), lit(2.0f)).as("b"),
        array($"id").as("al"), array(lit(1L), lit(2L)).as("bl"))
      val got = ranged.select(
        call_function("graft_dot", $"a", $"b").as("d"),
        call_function("graft_ldot", $"al", $"bl").as("ld"),
        call_function("graft_l2q", $"al", $"bl").as("q"),
        aggregate(zip_with($"al", $"bl", (x, y) => x * y),
          lit(0L), (acc, x) => acc + x).as("hof")).collect()
      got.foreach { r =>
        assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3), r)
      }
    }
  }

  test("graft_firstmatch: first agreeing bit-group across packed words — hand cases, ragged null, codegen") {
    def words(ws: Long*) = array(ws.map(lit(_)): _*)
    // r=3 bits per group, 21 groups/word: groups at offsets 3g
    // x: groups (g0..g3) = 5, 2, 7, 4 ; y: 1, 2, 7, 4 → first match g1
    def pack3(gs: Seq[Long]) =
      gs.zipWithIndex.map { case (g, i) => g << (3 * i) }.sum
    val cases = Seq(
      (words(pack3(Seq(5, 2, 7, 4))), words(pack3(Seq(1, 2, 7, 4))), 3, 4, Some(1)),
      (words(pack3(Seq(5, 2, 7, 4))), words(pack3(Seq(1, 3, 6, 0))), 3, 4, None),
      // equal beyond nGroups must NOT count: only group 0 is in range
      (words(pack3(Seq(1, 7, 7, 7))), words(pack3(Seq(2, 7, 7, 7))), 3, 1, None),
      // r=7 → 9 groups/word: group 10 lives in word 2 at offset 7.
      // Word 1 must disagree in EVERY group (a bit set per 7-bit group on
      // one side, zero on the other) or group 0 = (0,0) matches first.
      (words(0L, (3L << 7) | 1L),
        words((0 until 9).map(g => 1L << (7 * g)).sum, (3L << 7) | 2L),
        7, 12, Some(10))
    )
    cases.zipWithIndex.foreach { case ((a, b, bits, n, want), i) =>
      val got = spark.range(1).select(
        call_function("graft_firstmatch", a, b, lit(bits), lit(n))).collect()(0)
      assert(got.getInt(0) == want.getOrElse(-1), s"case $i: $got want $want")
    }
    // ragged (wrong word count for nGroups) → null
    val ragged = spark.range(1).select(
      call_function("graft_firstmatch", words(1L), words(1L, 2L),
        lit(3), lit(25))).collect()(0) // 25 groups at r=3 needs 2 words
    assert(ragged.isNullAt(0))
    // a non-literal INT argument is rejected at plan time, and the error
    // names the function being built (graft_packsig shares the check)
    Seq(
      ("graft_firstmatch", "groupBits",
        Seq(words(1L), words(1L), $"id".cast("int"), lit(1))),
      ("graft_packsig", "planesPerTable",
        Seq(array(lit(1.0f)), typedLit(Seq(Seq(1.0))), $"id".cast("int"), lit(1)))
    ).foreach { case (fn, arg, args) =>
      val e = intercept[Exception] {
        spark.range(1).select(call_function(fn, args: _*)).collect()
      }
      assert(e.getMessage.contains(s"$fn: $arg must be an INT literal"), e.getMessage)
    }
    // codegen participation with fallback disabled
    noFallback {
      val ranged = spark.range(8).select(
        call_function("graft_firstmatch",
          array(pmod($"id", lit(8L))), array(lit(3L)),
          lit(3), lit(1)).as("m"))
      val plan = ranged.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project [graft_firstmatch"), plan)
      assert(ranged.as[Int].collect().toSeq ==
        (0 until 8).map(i => if (i % 8 == 3) 0 else -1))
    }
  }

  test("graft_packsig: equals the per-plane fddot composition at the 252-plane sizing (incl. ragged + NaN rows); null -> all-zero; COMPILES in codegen where the composition cannot") {
    val dim = 64
    val (r, l) = (6, 42) // the sf1 Auto sizing whose composition overflowed 64 KB
    val rnd = new scala.util.Random(13)
    val planes: Seq[Seq[Double]] = Seq.fill(l * r)(Seq.fill(dim)(rnd.nextGaussian()))
    val embRows: Seq[(Long, Seq[Float])] =
      (0 until 40).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))) ++
        Seq((40L, Seq.fill(dim - 1)(0.1f)),                       // ragged
          (41L, Seq.fill(dim)(Float.NaN)),                        // NaN sign test
          (42L, Seq.fill(dim)(0.0f)))                             // exact-zero dots
    val df = embRows.toDF("vec_id", "e")
    val native = call_function("graft_packsig", $"e",
      typedLit(planes), lit(r), lit(l))
    // the per-plane composition this expression replaces, spelled out
    val tpw = 63 / r
    val nWords = (l + tpw - 1) / tpw
    val legacy = array((0 until nWords).map { w =>
      val tmax = math.min((w + 1) * tpw, l)
      (w * tpw until tmax).flatMap { t =>
        (0 until r).map { j =>
          when(call_function("graft_fddot", $"e",
            typedLit(planes(t * r + j))) >= 0,
            lit(1L << ((t - w * tpw) * r + j))).otherwise(lit(0L))
        }
      }.reduce(_ + _)
    }: _*)
    val rows = df.select($"vec_id", native.as("n"), legacy.as("ref")).collect()
    rows.foreach { row =>
      assert(row.getSeq[Long](1) == row.getSeq[Long](2), row)
    }
    // ragged embedding = fddot-NULL path on every plane = all-zero words
    val ragged = rows.find(_.getLong(0) == 40L).get
    assert(ragged.getSeq[Long](1) == Seq.fill(nWords)(0L))
    // NaN dots: Spark's nan-safe >= treats NaN as largest, so ALL bits set
    val nan = rows.find(_.getLong(0) == 41L).get
    assert(nan.getSeq[Long](1).forall(_ != 0L))
    // NULL embedding -> all-zero signature (never NULL)
    val withNull = Seq((0L, Option.empty[Seq[Float]])).toDF("vec_id", "e")
    assert(withNull.select(native).collect()(0).getSeq[Long](0) ==
      Seq.fill(nWords)(0L))
    // the whole point: at this sizing the expression must COMPILE in
    // whole-stage codegen (fallback disabled -> a 64 KB overflow fails
    // loudly); the composition above measurably cannot (r17 sf1 run)
    noFallback {
      val out = df.select(native.as("sig")).collect()
      assert(out.length == embRows.size)
    }
  }
}
