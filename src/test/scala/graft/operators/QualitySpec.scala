package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class QualitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def users = Seq(
    (Some(1L), Some("a@x.com"), "male", 30),
    (Some(2L), None, "female", 200),          // null email, age out of range
    (Some(3L), Some("not-an-email"), "robot", -1), // bad format+domain+negative
    (None, Some("b@y.org"), "male", 40),      // null id
    (Some(1L), Some("c@z.io"), "female", 25)  // duplicate id
  ).toDF("id", "email", "gender", "age")

  test("one-pass row checks count violations per predicate") {
    val row = users.agg(
      Quality.nullCheck("id"),
      Quality.nullCheck("email"),
      Quality.negativeCheck("age"),
      Quality.rangeCheck("age", 150),
      Quality.domainCheck("gender", Seq("male", "female")),
      Quality.formatCheck("email",
        "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")).head()
    val byName = row.schema.fieldNames.map(c => c -> row.getAs[Long](c)).toMap
    assert(byName == Map("null_id" -> 1, "null_email" -> 1, "negative_age" -> 1,
      "range_age" -> 1, "domain_gender" -> 1, "format_email" -> 1))
  }

  test("requiredColumns is a pure schema check") {
    assert(Quality.requiredColumns(users, "users", Seq("id", "email")).passed)
    assert(!Quality.requiredColumns(users, "users", Seq("id", "missing")).passed)
  }

  test("suite runs the per-table PK map like the reference") {
    val clean = Seq((1L, "x"), (2L, "y")).toDF("pk", "v")
    val res = Quality.suite(Map(
      "clean" -> (clean, Seq("pk")),
      "users" -> (users, Seq("id"))))
    assert(res.filter(_.table == "clean").forall(_.passed))
    val bad = res.filter(r => r.table == "users" && !r.passed).map(_.check)
    assert(bad.contains("null_id") && bad.contains("unique_id"))
  }

  /** The suite as one query per check: `isEmpty`, the schema check, one
    * null-count aggregate and a duplicate-group count per PK. */
  private def perCheck(name: String, df: DataFrame, pks: Seq[String]): Seq[Quality.CheckResult] = {
    def result(check: String, v: Long) = Quality.CheckResult(name, check, v, v == 0L)
    val nulls =
      if (pks.isEmpty) Nil
      else {
        val row = df.agg(Quality.nullCheck(pks.head), pks.tail.map(Quality.nullCheck): _*).head()
        pks.indices.map(i => result(s"null_${pks(i)}", row.getLong(i)))
      }
    Seq(result("non_empty", if (df.isEmpty) 1L else 0L),
      Quality.requiredColumns(df, name, pks)) ++ nulls ++
      pks.map(pk => result(s"unique_$pk", Quality.duplicateKeys(df, Seq(pk)).count()))
  }

  test("suite returns the per-check results: names, order and violation counts") {
    val cases: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("clean", Seq((1L, "x"), (2L, "y")).toDF("pk", "v"), Seq("pk")),
      ("null_keys", Seq((Some(1L), "x"), (None, "y")).toDF("pk", "v"), Seq("pk")),
      ("dup_keys", Seq((1L, "x"), (1L, "y"), (2L, "z"), (2L, "w"), (3L, "u"))
        .toDF("pk", "v"), Seq("pk")),
      ("dup_null_keys", Seq((None: Option[Long], "x"), (None, "y"), (Some(1L), "z"))
        .toDF("pk", "v"), Seq("pk")),
      ("empty", Seq.empty[(Long, String)].toDF("pk", "v"), Seq("pk")),
      ("two_pks", Seq((Some(1L), Some("a")), (Some(1L), None), (None, Some("a")),
        (Some(2L), None), (Some(3L), Some("b"))).toDF("id", "email"), Seq("id", "email")),
      ("no_pk", Seq((1L, "x")).toDF("pk", "v"), Nil),
      ("users", users, Seq("id", "email")))
    for ((name, df, pks) <- cases) {
      val got = Quality.suite(Map(name -> ((df, pks))))
      assert(got == perCheck(name, df, pks), name)
    }
    val dups = Quality.suite(Map("t" -> ((cases(2)._2, Seq("pk")))))
    assert(dups.map(r => r.check -> r.violations) ==
      Seq("non_empty" -> 0, "required_columns" -> 0, "null_pk" -> 0, "unique_pk" -> 2))
    val twoPks = Quality.suite(Map("t" -> ((cases(5)._2, Seq("id", "email")))))
    assert(twoPks.map(r => r.check -> r.violations) ==
      Seq("non_empty" -> 0, "required_columns" -> 0, "null_id" -> 1, "null_email" -> 2,
        "unique_id" -> 1, "unique_email" -> 2))
  }

  test("suite counts a NULL key held by two rows as one duplicated key") {
    val r = Quality.suite(Map("t" -> ((Seq((None: Option[Long], "x"), (None, "y"))
      .toDF("pk", "v"), Seq("pk")))))
    assert(r.map(r => r.check -> r.violations) ==
      Seq("non_empty" -> 0, "required_columns" -> 0, "null_pk" -> 2, "unique_pk" -> 1))
  }

  test("suite flags an empty table and nothing else on it") {
    val r = Quality.suite(Map("users" -> ((users.limit(0), Seq("id")))))
    assert(r.filterNot(_.passed).map(_.check) == Seq("non_empty"))
    assert(Quality.suite(Map("users" -> ((users, Nil)))).forall(_.passed))
  }

  test("gate throws iff a check failed") {
    Quality.gate(Seq(Quality.CheckResult("t", "ok", 0, passed = true)))
    val ex = intercept[IllegalStateException] {
      Quality.gate(Seq(Quality.CheckResult("t", "bad", 3, passed = false)))
    }
    assert(ex.getMessage.contains("t.bad=3"))
  }

  test("psiDrift: ~0 for identical distributions, large for a shift, floor for empty bins") {
    val base = (1 to 10000).map(i => (i % 100).toDouble).toDF("v")
    val same = (1 to 10000).map(i => ((i * 7) % 100).toDouble).toDF("v")
    val psiSame = Quality.psiDrift(base, same, "v")
      .select("psi").as[Double].collect().head
    assert(math.abs(psiSame) < 0.01, s"identical dists scored $psiSame")
    // shifted: current concentrated in the top half of the range
    val shifted = (1 to 10000).map(i => (50 + i % 50).toDouble).toDF("v")
    val psiShift = Quality.psiDrift(base, shifted, "v")
      .select("psi").as[Double].collect().head
    assert(psiShift > 0.25, s"shifted dist scored $psiShift") // 'major shift'
    // one side empty in some bins: the 0.0001 floor keeps ln finite
    val narrow = (1 to 1000).map(_ => 5.0).toDF("v")
    val out = Quality.psiDrift(base, narrow, "v")
      .as[(Double, Long)].collect().head
    assert(!out._1.isNaN && !out._1.isInfinite && out._1 > 0.25)
    // layout independence
    val a = Quality.psiDrift(base.repartition(13), shifted, "v")
      .select("psi").as[Double].collect().head
    assert(a == psiShift)
  }

  test("profile: nulls, distinct, min/max, modal value with ties") {
    import org.apache.spark.sql.functions.col
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Some("b")),
      (4L, Some("a")), (5L, None: Option[String])).toDF("id", "tag")
    val out = Quality.profile(df, Seq("id", "tag"))
      .collect().map(r => r.getString(0) -> r).toMap
    val tag = out("tag")
    assert(tag.getAs[Long]("n_rows") == 5L)
    assert(tag.getAs[Long]("n_nulls") == 1L)
    assert(tag.getAs[Long]("n_distinct") == 2L)
    assert(tag.getAs[String]("min_value") == "a")
    assert(tag.getAs[String]("max_value") == "b")
    // modal tie between a (2) and b (2) -> value asc -> "a"
    assert(tag.getAs[String]("top_value") == "a")
    assert(tag.getAs[Long]("top_count") == 2L)
    val id = out("id")
    assert(id.getAs[Long]("n_distinct") == 5L && id.getAs[Long]("n_nulls") == 0L)
  }

  test("fdViolations finds only LHS values with multiple RHS values") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    val df = Seq(("x", 1), ("x", 1), ("x", 2), ("y", 3), ("z", 4),
      ("z", 4)).toDF("name", "brand")
    val out = Quality.fdViolations(df, Seq("name"), "brand")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("x", 2L, 3L)))
  }

  test("trimmedMeanGrouped drops exactly floor(n*ppm/1e6) per end") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    // group g: 10 values 1..9 plus a 1000 outlier. 10% trim -> drop
    // exactly one row per end (the 1 and the 1000): mean(2..9) = 5.5.
    // group h: 5 values -> floor(5*0.1)=0 trimmed, plain mean.
    val df = ((1 to 9).map(v => ("g", v.toLong, v.toDouble)) :+
      ("g", 10L, 1000.0)) ++ (1 to 5).map(v => ("h", v.toLong, v * 2.0))
    val out = Quality.trimmedMeanGrouped(df.toDF("k", "id", "value"),
        "k", "value", trimPpm = 100000L, tiebreaks = Seq("id"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out("g") == ((8L, 5.5)))
    assert(out("h") == ((5L, 6.0)))
  }

  test("trimmedMeanGrouped: trim 0 is the plain mean; ties trim deterministically") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    val df = Seq(("g", 1L, 4.0), ("g", 2L, 4.0), ("g", 3L, 4.0),
      ("g", 4L, 8.0)).toDF("k", "id", "value")
    val plain = Quality.trimmedMeanGrouped(df, "k", "value", 0L, Seq("id"))
      .as[(String, Long, Double)].collect().head
    assert(plain == (("g", 4L, 5.0)))
    // 25% trim on 4 rows -> one off each end; the id tiebreak decides
    // WHICH tied 4.0 goes (id=1), keeping (4.0@2, 4.0@3) and dropping 8.0
    val t = Quality.trimmedMeanGrouped(df, "k", "value", 250000L, Seq("id"))
      .as[(String, Long, Double)].collect().head
    assert(t == (("g", 2L, 4.0)))
  }

  test("gini: 0 at perfect equality, (n-1)/n at full concentration, hand case") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    def g(vals: Seq[Long]): (Long, Long, Double) =
      Quality.gini(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v"), "v", Seq("id"))
        .as[(Long, Long, Double)].collect().head
    assert(g(Seq(5L, 5L, 5L, 5L)) == ((4L, 20L, 0.0)))
    assert(g(Seq(0L, 0L, 0L, 12L)) == ((4L, 12L, 0.75))) // (n-1)/n
    // v=(1,2,3,4): sum (2i-5)v = -3-2+3+12 = 10; / (4*10) = 0.25
    assert(g(Seq(1L, 2L, 3L, 4L)) == ((4L, 10L, 0.25)))
  }

  test("gini carries fractional values exactly (no integer rounding)") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    // weights 0.5, 1.5, 2.0: ranks 1..3, (2i-4)·v = -1.0 + 0 + 4.0 = 3;
    // gini = 3 / (3·4) = 0.25. A DECIMAL(.,0) value cast would have
    // rounded 0.5→1 and 1.5→2 and reported 2/12 instead.
    val df = Seq((1L, 0.5), (2L, 1.5), (3L, 2.0)).toDF("id", "v")
    val got = Quality.gini(df, "v", Seq("id"))
      .as[(Long, Double, Double)].collect().head
    assert(got == ((3L, 4.0, 0.25)))
  }

  test("gini out-of-contract magnitudes emit NULL, never a wrong coefficient") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    // 1e17 overflows the DECIMAL(25,9) value factor. Under the
    // session default (ANSI) the cast THROWS — already loud; under
    // non-ANSI the row's product becomes NULL and a bare sum would
    // have skipped it silently — the enforced contract reports NULL
    // gini there instead. Both modes pinned.
    val df = Seq((1L, 1.0), (2L, 1e17)).toDF("id", "v")
    val thrown = intercept[Exception] {
      Quality.gini(df, "v", Seq("id")).collect()
    }
    assert(thrown.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"))
    val prev = spark2.conf.get("spark.sql.ansi.enabled")
    spark2.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = Quality.gini(df, "v", Seq("id"))
        .select("gini").collect().head
      assert(got.isNullAt(0))
    } finally spark2.conf.set("spark.sql.ansi.enabled", prev)
    // in-contract frames are unaffected
    val ok = Quality.gini(Seq((1L, 1.0), (2L, 3.0)).toDF("id", "v"),
      "v", Seq("id")).select("gini").as[Double].collect().head
    assert(ok == 0.25)
  }

  test("robustOutliers flags the spike the spike cannot hide") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    // 1..9 + 1000: med = 5 (disc, rank ceil(10/2)), devs sorted
    // 0,1,1,2,2,3,3,4,4,995 -> MAD = 2; only the 1000 clears 3.5
    val df = ((1 to 9).map(v => ("a", v.toLong, v.toDouble)) :+
      ("a", 10L, 1000.0)).toDF("g", "id", "value")
    val out = Quality.robustOutliers(df, "g", "id", "value")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(out.length == 1)
    val r = out.head
    assert(r._2 == 10L && r._4 == 5.0 && r._5 == 2.0)
    assert(math.abs(r._6 - 0.6745 * 995 / 2) < 1e-9)
  }

  test("robustOutliers: zero-MAD deadband flags nothing, never divides by 0") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    val df = (Seq.fill(5)(5.0) :+ 1000.0).zipWithIndex
      .map { case (v, i) => ("a", i.toLong, v) }.toDF("g", "id", "value")
    assert(Quality.robustOutliers(df, "g", "id", "value").count() == 0L)
  }

  test("chiSquareIndependence: product table EXACT 0; determined table V = 1") {
    import org.apache.spark.sql.functions.col
    // perfectly independent 4x2 balanced table: every cell term is 0
    val ind = (for { x <- 0 until 4; y <- 0 until 2; _ <- 0 until 5 }
      yield (x, y)).toDF("x", "y")
    val Array(r) = Quality.chiSquareIndependence(ind, col("x"), col("y"))
      .as[(Double, Long, Long, Long, Long, Option[Double])].collect()
    assert(r._1 == 0.0 && r._2 == 3L && r._3 == 40L)
    assert(r._6.contains(0.0))
    // y fully determined by x: chi2 = n*(min-1) and V = 1
    val det = (for { x <- 0 until 4; _ <- 0 until 3 } yield (x, x % 2))
      .toDF("x", "y")
    val Array(r2) = Quality.chiSquareIndependence(det, col("x"), col("y"))
      .as[(Double, Long, Long, Long, Long, Option[Double])].collect()
    assert(math.abs(r2._1 - 12.0) < 1e-5) // n * (min(4,2)-1) = 12
    assert(r2._6.exists(v => math.abs(v - 1.0) < 1e-5))
  }

  test("chiSquareIndependence: constant column has dof 0, NULL V, zero chi2") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1, "k"), (2, "k"), (3, "k")).toDF("x", "y")
    val Array(r) = Quality.chiSquareIndependence(df, col("x"), col("y"))
      .as[(Double, Long, Long, Long, Long, Option[Double])].collect()
    assert(r._1 == 0.0 && r._2 == 0L && r._6.isEmpty)
  }

  test("chiSquareIndependence counts ZERO-observed grid cells") {
    import org.apache.spark.sql.functions.col
    // 2x2 with an empty (1, "b") cell: its term is the full expected
    // count — dropping it would understate chi2
    val df = Seq((0, "a"), (0, "b"), (1, "a"), (1, "a")).toDF("x", "y")
    val Array(r) = Quality.chiSquareIndependence(df, col("x"), col("y"))
      .as[(Double, Long, Long, Long, Long, Option[Double])].collect()
    // hand chi2: cells obs a0=1 b0=1 a1=2 b1=0; e = rowtot*coltot/4
    // = (2*3/4, 2*1/4, 2*3/4, 2*1/4) = (1.5, .5, 1.5, .5)
    // chi2 = .25/1.5 + .25/.5 + .25/1.5 + .25/.5 = 4/3
    assert(math.abs(r._1 - 4.0 / 3) < 1e-5)
  }

  test("chiSquareIndependence: all-NULL input still emits the one-row shape") {
    import org.apache.spark.sql.functions.col
    // the SQL twin's ungrouped `sum(...) FROM grid CROSS JOIN tot`
    // returns ONE row on an empty grid — the Scala face must match
    // (a grouped agg would emit zero rows and fail the oracle's
    // row-count compare on an all-NULL contingency table)
    val df = Seq((Option.empty[Int], Option.empty[String]),
      (Option.empty[Int], Option.empty[String])).toDF("x", "y")
    val rows = Quality.chiSquareIndependence(df, col("x"), col("y"))
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.isNullAt(0))                       // chi2 NULL
    assert(r.getLong(1) == 1L)                  // dof = (0-1)*(0-1)
    assert(r.isNullAt(2))                       // n NULL (sum over nothing)
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    assert(r.isNullAt(5))                       // cramers_v NULL
  }
}
