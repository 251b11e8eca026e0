package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import graft.plans.LocalAggregateFold
import graft.table.EqualityDeletes

class LocalAggregateFoldSpec extends SparkSpec {
  import spark.implicits._

  // `df`'s analyzed plan optimized with the rule and with it excluded
  private def optimized(df: DataFrame): (LogicalPlan, LogicalPlan) = {
    val analyzed = df.queryExecution.analyzed
    val optimizer = spark.sessionState.optimizer
    val key = "spark.sql.optimizer.excludedRules"
    val withRule = optimizer.execute(analyzed)
    spark.conf.set(key, LocalAggregateFold.ruleName)
    try (withRule, optimizer.execute(analyzed)) finally spark.conf.unset(key)
  }

  /** `agg` over the local `frame` folds to a LocalRelation, runs no Spark
    * job, and gives the rows `agg` gives over `frame.repartition(2)`,
    * which does not fold.
    */
  private def foldsAlike(frame: DataFrame)(agg: DataFrame => DataFrame): Seq[String] = {
    val folded = agg(frame)
    folded.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    val spread = agg(frame.repartition(2))
    spread.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a } shouldBe defined
    var rows = Seq.empty[String]
    jobsOf { rows = canon(folded) } shouldBe 0
    rows shouldBe canon(spread)
    rows
  }

  test("folded aggregates give the distributed result on the edge set") {
    // "a" < "\uFFFF" < "😀" in UTF-8 (Spark's string order); UTF-16 order
    // puts "😀" (a surrogate pair) before "\uFFFF"
    val strs = Seq(("\uFFFF", 1), ("😀", 2), ("a", 3), ("😀", 4), (null, 5)).toDF("s", "v")
    foldsAlike(strs)(_.agg(min("s").as("lo"), max("s").as("hi"), count("s").as("n"))) shouldBe
      Seq("[😀,a,4]")
    foldsAlike(strs)(_.groupBy("s").agg(sum("v"))) should have size 4

    val decs = Seq(("1.10", 1), ("2.25", 1), ("2.25", 2), (null, 2)).toDF("d", "g")
      .select($"d".cast("decimal(10,2)").as("d"), $"g")
    foldsAlike(decs)(_.groupBy("g").agg(sum("d"), avg("d"), min("d"), max("d")))
    foldsAlike(decs)(_.groupBy("d").count()) shouldBe Seq("[1,1.10]", "[1,null]", "[2,2.25]")

    val nulls = Seq((Some(1L), 10), (None, 20), (Some(1L), 30), (None, 40)).toDF("k", "v")
    foldsAlike(nulls)(_.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("t"))) shouldBe
      Seq("[1,40,2]", "[null,60,2]")

    val nans = Seq((1, 1.5), (1, Double.NaN), (2, 0.0), (2, 3.0), (2, -1.0)).toDF("g", "x")
    foldsAlike(nans)(_.groupBy("g").agg(min("x").as("lo"), max("x").as("up"))) shouldBe
      Seq("[1,1.5,NaN]", "[2,-1.0,3.0]")
    foldsAlike(nans)(_.agg(max("x"))) shouldBe Seq("[NaN]")

    // a typed imperative aggregate
    foldsAlike(nulls)(_.groupBy("k").agg(sort_array(collect_set("v")).as("vs"))) shouldBe
      Seq("[1,ArraySeq(10, 30)]", "[null,ArraySeq(20, 40)]")

    // an empty input stays empty when repartitioned, so it folds both ways
    val noInput = nulls.filter($"v" < 0)
    val oneRow = noInput.agg(count(lit(1)).as("n"), max("k").as("top"))
    val (withRule, without) = optimized(oneRow)
    withRule shouldBe a[LocalRelation]
    without.collectFirst { case a: Aggregate => a } shouldBe defined
    canon(oneRow) shouldBe Seq("[0,null]")
    // with grouping, Spark's own PropagateEmptyRelation already folds it
    val none = noInput.groupBy("k").count()
    none.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    none.collect() shouldBe empty
  }

  /** `plan` over the local `frames` folds to a LocalRelation, runs no
    * Spark job, and gives the rows it gives over each frame
    * `repartition(2)`, which does not fold.
    */
  private def foldsAlikeOver(frames: DataFrame*)(plan: Seq[DataFrame] => DataFrame): Seq[String] = {
    val folded = plan(frames)
    folded.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    var rows = Seq.empty[String]
    jobsOf { rows = canon(folded) } shouldBe 0
    rows shouldBe canon(plan(frames.map(_.repartition(2))))
    rows
  }

  test("unions, generators, exceptAll and intersectAll fold to the distributed rows") {
    // strings whose UTF-8 and UTF-16 orders differ, decimals, NULLs and
    // duplicates on both sides
    def rows(xs: (String, String, Int)*) = xs.toDF("s", "d", "n")
      .select($"s", $"d".cast("decimal(10,2)").as("d"), $"n")
    val a = rows(("\uFFFF", "1.10", 1), ("😀", "2.25", 2), ("a", null, 3), ("😀", "2.25", 2),
      (null, "0.00", 4), (null, "0.00", 4))
    val b = rows(("😀", "2.25", 2), ("a", null, 3), ("b", "9.99", 5), (null, "0.00", 4))
    val none = a.filter($"n" < 0)
    foldsAlikeOver(a, b)(f => f(0).union(f(1))) should have size 10
    foldsAlikeOver(a, b)(f => f(0).exceptAll(f(1))) shouldBe
      Seq("[0.00,4,null]", "[1.10,1,\uFFFF]", "[2.25,2,😀]")
    foldsAlikeOver(a, b)(f => f(1).exceptAll(f(0))) shouldBe Seq("[9.99,5,b]")
    foldsAlikeOver(a, b)(f => f(0).intersectAll(f(1))) shouldBe
      Seq("[0.00,4,null]", "[2.25,2,😀]", "[null,3,a]")
    // an empty side
    foldsAlikeOver(a, none)(f => f(0).exceptAll(f(1))) shouldBe canon(a)
    foldsAlikeOver(none, a)(f => f(0).exceptAll(f(1))) shouldBe empty
    foldsAlikeOver(a, none)(f => f(0).intersectAll(f(1))) shouldBe empty
    // generators, with an outer one over NULL and empty arrays
    foldsAlikeOver(a)(_.head.select($"n", explode(array($"s", $"s")).as("e"))) should have size 12
    foldsAlikeOver(a)(_.head.select($"n", explode_outer(
      when($"n" > 3, array().cast("array<string>")).when($"n" > 1, array($"s"))).as("e"))) should have size 6
    foldsAlikeOver(a)(_.head.select($"n", posexplode(array($"d", $"d")))) should have size 12
  }

  test("a folded union sums doubles to the distributed sum, within rounding") {
    val xs = Seq((1, 0.1), (1, 0.2), (1, 1e16), (1, -1e16), (2, 1.0 / 3), (2, 2.0 / 3)).toDF("k", "x")
    val ys = Seq((1, 0.3), (2, 1e-9)).toDF("k", "x")
    def sums(df: DataFrame): Map[Int, Double] = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val plan = (f: Seq[DataFrame]) => f(0).union(f(1)).groupBy("k").agg(sum("x").as("x"))
    val folded = plan(Seq(xs, ys))
    folded.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    val spread = sums(plan(Seq(xs.repartition(2), ys.repartition(2))))
    sums(folded).foreach { case (k, v) => v shouldBe spread(k) +- 4.0 }
    sums(folded)(2) shouldBe 1.0 +- 1e-6
  }

  test("dropDuplicates keeps the first row in input order, and distinct folds") {
    val rows = Seq((2, "c"), (1, "a"), (2, "d"), (1, "b"), (1, "a")).toDF("k", "s")
    val deduped = rows.dropDuplicates("k")
    deduped.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    canon(deduped) shouldBe Seq("[1,a]", "[2,c]")
    foldsAlike(rows)(_.distinct()) shouldBe Seq("[1,a]", "[1,b]", "[2,c]", "[2,d]")
    foldsAlike(rows)(_.dropDuplicates()) should have size 4
  }

  test("what the rule cannot evaluate as Spark would plans as it does without the rule") {
    val cap = EqualityDeletes.EqKeyCacheMaxRows
    val rows = Seq((1, 1.0, "a"), (1, -0.0, "b"), (2, 0.0, "c")).toDF("k", "d", "s")
    val refused = Seq(
      "distinct aggregate" -> rows.groupBy("k").agg(countDistinct("s")),
      "FILTER" -> rows.groupBy("k").agg(expr("count(*) FILTER (WHERE d > 0)")),
      "rand()" -> rows.groupBy("k").agg((count(lit(1)) + rand()).as("r")),
      "DOUBLE key" -> rows.groupBy("d").count(),
      "over the cap" -> (0 to cap).toDF("k").groupBy($"k" % 7).count())
    refused.foreach { case (what, df) =>
      withClue(what) {
        val (withRule, without) = optimized(df)
        withRule.canonicalized shouldBe without.canonicalized
        withRule.collectFirst { case a: Aggregate => a } shouldBe defined
      }
    }
    // -0.0 and 0.0 are one group, as Spark normalizes them
    canon(rows.groupBy("d").count()) shouldBe Seq("[1,1.0]", "[2,0.0]")
  }
}
