package graft.fpm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end FP-Growth differential tests: the textbook fixture, MLlib
 * (`org.apache.spark.ml.fpm.FPGrowth`) as an independent oracle, and the
 * PFP/EPFP invariants (partitioning must not change results).
 */
class FPGrowthSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("fpgrowth-spec")
    .getOrCreate()

  private def trainDF = {
    import spark.implicits._
    Seq(
      Seq("I1", "I2", "I5"),
      Seq("I2", "I4"),
      Seq("I2", "I3"),
      Seq("I1", "I3"),
      Seq("I4", "I2", "I5", "I1")).toDF("items")
  }

  private def itemsetsOf(m: FPGrowthModel): Map[Set[String], Long] = {
    import spark.implicits._
    m.freqItemsets.as[(Seq[String], Long)].collect()
      .map { case (i, f) => i.toSet -> f }.toMap
  }

  test("textbook fixture at minSupport=0.4") {
    val model = new FPGrowth().setMinSupport(0.4).setNumPartitions(3).fit(trainDF)
    val expected = Map(
      Set("I2") -> 4L, Set("I1") -> 3L, Set("I3") -> 2L, Set("I4") -> 2L,
      Set("I5") -> 2L, Set("I1", "I2") -> 2L, Set("I1", "I5") -> 2L,
      Set("I2", "I5") -> 2L, Set("I2", "I4") -> 2L, Set("I1", "I2", "I5") -> 2L)
    assert(itemsetsOf(model) == expected)
  }

  test("matches MLlib FPGrowth on random baskets, balanced and hashed") {
    import spark.implicits._
    val rng = new scala.util.Random(123)
    val items = (0 until 12).map(i => s"it$i")
    val txns = Seq.fill(300)(
      rng.shuffle(items).take(1 + rng.nextInt(6)))
    val df = txns.toDF("items")
    val mllib = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.05).setItemsCol("items").fit(df)
    val expected = mllib.freqItemsets
      .as[(Seq[String], Long)].collect().map { case (i, f) => i.toSet -> f }.toMap
    for (balanced <- Seq(true, false); parts <- Seq(1, 3, 7)) {
      val got = itemsetsOf(new FPGrowth()
        .setMinSupport(0.05).setBalanced(balanced).setNumPartitions(parts).fit(df))
      assert(got == expected, s"balanced=$balanced parts=$parts")
    }
  }

  test("mining shuffle gives group g partition g, whatever the shuffle partitions and AQE") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val items = (0 until 10).map(i => s"mp$i")
    val df = Seq.fill(300)(rng.shuffle(items).take(1 + rng.nextInt(5))).toDF("items")
    val expected = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.05).setItemsCol("items").fit(df).freqItemsets
      .as[(Seq[String], Long)].collect().map { case (i, f) => i.toSet -> f }.toMap
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      for (aqe <- Seq(true, false)) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        val model = new FPGrowth().setMinSupport(0.05).setNumPartitions(5).fit(df)
        assert(model.itemSupport.size >= 5, s"aqe=$aqe")
        val rdd = model.freqItemsets.rdd
        assert(rdd.getNumPartitions == 5, s"aqe=$aqe")
        // each group owns at least its single-item itemsets
        val sizes = rdd.mapPartitions(it => Iterator(it.size)).collect()
        assert(sizes.forall(_ > 0), s"aqe=$aqe sizes=${sizes.mkString(",")}")
        assert(itemsetsOf(model) == expected, s"aqe=$aqe")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("association rules match MLlib (confidence + support) and compute lift") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val got = model.associationRules
      .select($"antecedent", $"consequent", $"confidence", $"support")
      .as[(Seq[String], Seq[String], Double, Double)].collect()
      .map { case (a, c, conf, sup) => (a.toSet, c.toSet) -> (conf, sup) }.toMap

    val mllib = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val expected = mllib.associationRules
      .select($"antecedent", $"consequent", $"confidence", $"support")
      .as[(Seq[String], Seq[String], Double, Double)].collect()
      .map { case (a, c, conf, sup) => (a.toSet, c.toSet) -> (conf, sup) }.toMap
    assert(got == expected)

    // lift = confidence / support(consequent); spot-check {I1,I5} => I2ish pairs
    val lifts = model.associationRules
      .select($"antecedent", $"consequent", $"lift")
      .as[(Seq[String], Seq[String], Double)].collect()
    lifts.foreach { case (_, cons, lift) =>
      val sup = model.itemSupport(cons.head)
      assert(lift > 0 && math.abs(lift % 1.0) >= 0.0) // finite
      assert(sup > 0)
    }
  }

  test("transform predicts lift-ordered consequents, null-safe") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val probe = Seq(
      Some(Seq("I1")), Some(Seq("I2")), Some(Seq("I3")),
      Some(Seq("I4")), Some(Seq("I5", "I2", "I3")), None
    ).toDF("items")
    val out = model.transform(probe).as[(Option[Seq[String]], Option[String])].collect()
    out.foreach {
      case (None, pred) => assert(pred.isEmpty) // null in -> null out
      case (Some(items), Some(pred)) =>
        val predicted = pred.split(", ").filter(_.nonEmpty)
        assert(predicted.distinct.length == predicted.length)
        predicted.foreach(p => assert(!items.contains(p)))
      case other => fail(s"unexpected $other")
    }
    // transform(SparkSession): predicts over distinct antecedents
    assert(model.transform(spark).count() > 0)
  }

  test("save/load round-trips itemsets, rules, and predictions") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val dir = java.nio.file.Files.createTempDirectory("fpm-model").toString
    model.save(dir)
    val loaded = FPGrowthModel.load(spark, dir)
    assert(itemsetsOf(loaded) == itemsetsOf(model))
    assert(loaded.numTransactions == model.numTransactions)
    assert(loaded.itemSupport == model.itemSupport)
    val origRules = model.associationRules
      .select($"antecedent", $"consequent", $"confidence")
      .as[(Seq[String], Seq[String], Double)].collect()
      .map { case (a, c, conf) => (a.toSet, c.toSet, conf) }.toSet
    val loadedRules = loaded.associationRules
      .select($"antecedent", $"consequent", $"confidence")
      .as[(Seq[String], Seq[String], Double)].collect()
      .map { case (a, c, conf) => (a.toSet, c.toSet, conf) }.toSet
    assert(loadedRules == origRules)
    val probe = Seq(Seq("I1"), Seq("I5", "I2", "I3")).toDF("items")
    assert(loaded.transform(probe).collect().map(_.toString).toSeq ==
      model.transform(probe).collect().map(_.toString).toSeq)
  }

  test("duplicate items in a transaction are rejected") {
    import spark.implicits._
    val bad = Seq(Seq("a", "a", "b")).toDF("items")
    val ex = intercept[Exception] {
      new FPGrowth().setMinSupport(0.1).fit(bad).freqItemsets.count()
    }
    assert(ex.getMessage != null)
  }
}
