package graft.fpm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** UDF vs relational prediction: identical output strings by construction. */
class PredictorSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("predictor-spec")
    .getOrCreate()

  test("predictRelational == predict (broadcast UDF) on sf0.001 baskets") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val baskets = graft.Tables.orderBrandBaskets(spark, dir)
    val model = graft.FpmQueries.model(spark, dir)
    val rulesDF = model.associationRules

    val rulesArr = rulesDF
      .select($"antecedent", $"consequent".getItem(0), $"lift")
      .as[(Array[String], String, Double)].collect()
    val viaUdf = Predictor.predict(
        baskets, Predictor.sortRules(rulesArr), "items", "prediction")
      .select($"l_orderkey", $"prediction")
      .as[(Long, String)].collect().toMap

    val viaRel = Predictor.predictRelational(
        baskets, rulesDF, Seq("l_orderkey"), "items", "prediction")
      .select($"l_orderkey", $"prediction")
      .as[(Long, String)].collect().toMap

    assert(viaRel.size == viaUdf.size)
    val diffs = viaUdf.collect {
      case (k, v) if viaRel(k) != v => (k, v, viaRel(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3)}")
    assert(viaUdf.values.exists(_.nonEmpty))
  }

  test("q198: predict from refresh-derived rules == predict from fresh fit (q05)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // transform must be artifact-stable: the refreshed-artifact rule
    // path and the fresh-fit rule path drive byte-identical predictions
    val viaArtifact = graft.FpmQueries.predictFromRefreshedArtifact(spark, dir)
      .as[(Long, String)].collect().toMap
    val viaFit = graft.FpmQueries.predict(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(viaArtifact.size == viaFit.size)
    val diffs = viaFit.collect {
      case (k, v) if viaArtifact(k) != v => (k, v, viaArtifact(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3)}")
    assert(viaFit.values.exists(_.nonEmpty))
  }

  test("generic fallback (>64-item rule vocab) == relational on synthetic rules") {
    import spark.implicits._
    // 80 distinct items: a two-word mask in predict and the
    // array_contains_all probe in predictRelational; rules i => i+1 with
    // lift descending by i, deterministic baskets.
    val items = (0 until 80).map(i => f"it$i%02d")
    val rules = items.init.zipWithIndex.map { case (it, i) =>
      (Array(it), items(i + 1), (200 - i).toDouble)
    }.toArray
    val baskets = (0 until 200).map { b =>
      (b.toLong, (0 until 80).filter(i => (b * 31 + i * 7) % 5 < 2).map(items))
    }.toDF("l_orderkey", "items")
    val viaUdf = Predictor.predict(
        baskets, Predictor.sortRules(rules), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    val rulesDF = rules.toSeq
      .map { case (a, c, l) => (a.toSeq, Seq(c), l) }
      .toDF("antecedent", "consequent", "lift")
    val viaRel = Predictor.predictRelational(
        baskets, rulesDF, Seq("l_orderkey"), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    assert(viaUdf == viaRel)
    assert(viaUdf.values.exists(_.nonEmpty))
  }

  test("null baskets predict null in BOTH paths; empty baskets predict empty string") {
    import spark.implicits._
    val rules = Array((Array("a"), "b", 2.0))
    val baskets = Seq(
      (1L, Seq("a")),          // fires the rule
      (2L, Seq.empty[String]), // matches nothing -> ""
      (3L, null)               // null basket -> null prediction, NOT ""
    ).toDF("l_orderkey", "items")
    val rulesDF = Seq((Seq("a"), Seq("b"), 2.0))
      .toDF("antecedent", "consequent", "lift")
    val viaUdf = Predictor.predict(
        baskets, Predictor.sortRules(rules), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    val viaRel = Predictor.predictRelational(
        baskets, rulesDF, Seq("l_orderkey"), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    val expected = Map(1L -> "b", 2L -> "", 3L -> (null: String))
    assert(viaUdf == expected)
    assert(viaRel == expected)
  }

  test("multi-word bitset probe is exact at vocab sizes 63, 64, 65 and 129") {
    import spark.implicits._
    for (v <- Seq(63, 64, 65, 129)) {
      val items = (0 until v).map(i => f"w$i%03d")
      // Chain rules i => i+1 outrank every other rule, so predict's vocab
      // gives item k bit k; the multi-item rules then land on word edges.
      val chain = (0 until v - 1).map(i => (Seq(i), i + 1, 1000.0 - i))
      val multi = Seq(
        (Seq(61, 62), 0, 9.0),         // last bits of a 63-item vocab
        (Seq(5, 62), 63, 8.5),         // consequent on bit 63
        (Seq(62, 63), 64, 8.0),        // antecedent spans words 0 and 1
        (Seq(0, 64), 63, 7.5),         // consequent 63, antecedent in words 0 and 1
        (Seq(10, 63), 64, 7.5),        // lift tie, consequent on bit 64
        (Seq(64, 65), 0, 7.0),
        (Seq(63, 64, 128), 1, 6.5),    // spans words 0, 1 and 2
        (Seq(1, 2, 3, 64, 127), 128, 6.0),
        (Seq(1, 2), 3, 7.5))           // lift tie within word 0
        .filter { case (ant, cons, _) => (cons +: ant).forall(_ < v) }
      val rules = (chain ++ multi).map { case (ant, cons, lift) =>
        (ant.map(items).toArray, items(cons), lift)
      }.toArray
      val sorted = Predictor.sortRules(rules)

      val rng = new scala.util.Random(v)
      val random = Seq.fill(150)(Some(items.filter(_ => rng.nextDouble() < 0.3) :+ "zz-outside"))
      // one basket per multi-item rule: its antecedent plus a few extras,
      // never its consequent
      val targeted = multi.map { case (ant, cons, _) =>
        Some((ant ++ Seq.fill(3)(rng.nextInt(v)).filter(_ != cons)).distinct.map(items))
      }
      val baskets: Seq[Option[Seq[String]]] =
        random ++ targeted ++ Seq(None, Some(Seq.empty[String]), Some(items))
      val df = baskets.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("l_orderkey", "items")

      val brute = baskets.zipWithIndex.map { case (b, i) =>
        i.toLong -> b.map { basket =>
          val set = basket.toSet
          val picked = scala.collection.mutable.LinkedHashSet.empty[String]
          sorted.foreach { case (ant, cons, _) =>
            if (!set.contains(cons) && ant.forall(set.contains)) picked += cons
          }
          picked.mkString(", ")
        }.orNull
      }.toMap

      val viaUdf = Predictor.predict(df, sorted, "items", "prediction")
        .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
      val rulesDF = rules.toSeq.map { case (a, c, l) => (a.toSeq, Seq(c), l) }
        .toDF("antecedent", "consequent", "lift")
      val viaRel = Predictor.predictRelational(
          df, rulesDF, Seq("l_orderkey"), "items", "prediction")
        .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap

      assert(viaUdf == brute, s"vocab=$v")
      assert(viaRel == brute, s"vocab=$v")
      val fired = brute.values.filter(_ != null).flatMap(_.split(", ")).toSet
      multi.foreach { case (_, cons, _) => assert(fired.contains(items(cons)), s"vocab=$v") }
    }
  }
}
