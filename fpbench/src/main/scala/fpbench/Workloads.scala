package fpbench

import graft.{Caches, FpmQueries, SparkEntry, Tables}
import graft.fpm.{FPGrowth, FPGrowthModel}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** One benchmark workload: inputs that `run.py` generated from the seed, and a
  * pass of cold ops, each timed by [[Ops.op]] and checked after its clock
  * stops. */
trait Workload {
  def params: Map[String, Any]
  /** Load the inputs into a fresh session and cache them. */
  def prepare(spark: SparkSession): Unit
  /** Compute every reference answer for the prepared inputs (once a run). */
  def reference(spark: SparkSession): Unit
  def pass(spark: SparkSession, ops: Ops): Unit
  /** Rows whose reference output the DuckDB oracle checks after the run. */
  def oracleRows: Seq[String] = Nil
}

object Workload {
  def apply(name: String, inputs: Path, work: Path): Workload = name match {
    case "mine-zipf" => new MineZipf(inputs)
    case "serve-baskets" => new ServeBaskets(inputs, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Seeded synthetic baskets over a Zipf vocabulary (generated by
  * `run.py`), so a few items are in most baskets and the conditional trees
  * of rare items are deep. The rule table spans far more than 64 items, so
  * the predictor takes its general (set-probe) path. */
final class MineZipf(inputs: Path) extends Workload {
  val MinSupport = 0.003
  val MinConfidence = 0.5
  val CheckedRows = 300

  def params: Map[String, Any] = Map("min_support" -> MinSupport,
    "min_confidence" -> MinConfidence, "checked_rows" -> CheckedRows)

  private var train: DataFrame = _
  private var heldOut: DataFrame = _
  private var heldOutRows = 0L
  private var heldOutItems: Map[Long, Seq[String]] = _
  private var ref: Reference = _
  private var predictions: Check.Predictions = _

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    train = spark.read.parquet(inputs.resolve("train.parquet").toString)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    train.count()
    heldOut = spark.read.parquet(inputs.resolve("held_out.parquet").toString)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    heldOutRows = heldOut.count()
    heldOutItems = heldOut.where(col("id") < CheckedRows).as[(Long, Seq[String])].collect().toMap
  }

  def reference(spark: SparkSession): Unit = {
    ref = Reference.mllib(train, MinSupport, MinConfidence)
    predictions = new Check.Predictions(ref, heldOutItems)
  }

  def pass(spark: SparkSession, ops: Ops): Unit = {
    val model = ops.op("fit", Check.itemsets(ref)) {
      new FPGrowth().setMinSupport(MinSupport).setMinConfidence(MinConfidence).fit(train)
    }
    try {
      ops.fitModel(model)
      val rules = ops.op("rules", Check.rules(ref)) { model.associationRules.collect() }
      ops.note("rules", rules.length)
      ops.op("predict", predictions, rows = heldOutRows) {
        model.transform(heldOut).select("id", "prediction").collect()
      }
    } finally model.freqItemsets.unpersist()
  }
}

/** Order -> distinct part-brand baskets in the engine's reference pipeline,
  * over seeded TPC-H-shaped `lineitem`/`part` tables (generated by
  * `run.py`, one parquet file each, the layout of the engine's own test
  * data). 25 brands and about four brands per order give a rule table under
  * 64 items, so the predictor takes its bitset path; scan, join and basket
  * building outweigh the tiny mining trees. */
final class ServeBaskets(inputs: Path, work: Path) extends Workload {
  val CheckedRows = 300
  val StreamRow = "q85_v2_stream_freq"
  val dir: String = inputs.toString

  def params: Map[String, Any] = Map("min_support" -> FpmQueries.MinSupport,
    "min_confidence" -> FpmQueries.MinConfidence, "checked_rows" -> CheckedRows)

  override def oracleRows: Seq[String] = Seq("q01_baskets", StreamRow)

  private var ref: Reference = _
  private var baskets = 0L
  private var basketItems: Map[Long, Seq[String]] = _
  private var basketDigest: String = _
  private var streamRows: Option[Seq[String]] = None
  private var predictions: Check.Predictions = _

  def prepare(spark: SparkSession): Unit = ()

  def reference(spark: SparkSession): Unit = {
    import spark.implicits._
    Caches.clearAll()
    val b = Tables.orderBrandBaskets(spark, dir)
    basketDigest = Check.digest(b)
    baskets = b.count()
    basketItems = b.where(col("l_orderkey") <= CheckedRows)
      .as[(Long, Seq[String])].collect().toMap
    ref = Reference.mllib(b, FpmQueries.MinSupport, FpmQueries.MinConfidence)
    writeOracleRow(spark, "q01_baskets", SparkEntry.queries("q01_baskets")(spark, dir))
    Caches.clearAll()
    predictions = new Check.Predictions(ref, basketItems)
  }

  /** Writes a row's output where the DuckDB oracle check reads it. */
  private def writeOracleRow(spark: SparkSession, row: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(work.resolve(s"oracle/$row").toString)

  /** The first output of the streamed row is the one the oracle checks;
    * every later output must match it row for row. */
  private def checkStream(spark: SparkSession)(out: (StructType, Array[Row])): Option[String] = {
    val got = out._2.map(_.mkString("|")).toSeq.sorted
    streamRows match {
      case None =>
        writeOracleRow(spark, StreamRow, spark.createDataFrame(out._2.toSeq.asJava, out._1))
        streamRows = Some(got)
        None
      case Some(want) => Check.same(StreamRow, got, want)
    }
  }

  def pass(spark: SparkSession, ops: Ops): Unit = {
    val b = ops.op("baskets", (df: DataFrame) => Check.same("basket digest", Check.digest(df), basketDigest)) {
      val df = Tables.orderBrandBaskets(spark, dir)
      df.count()
      df
    }
    val model = ops.op("fit", Check.itemsets(ref)) {
      new FPGrowth().setMinSupport(FpmQueries.MinSupport)
        .setMinConfidence(FpmQueries.MinConfidence)
        .setNumPartitions(spark.sparkContext.defaultParallelism)
        .fit(b)
    }
    try {
      ops.fitModel(model)
      val rules = ops.op("rules", Check.rules(ref)) { model.associationRules.collect() }
      ops.note("rules", rules.length)
      ops.op("predict", predictions, rows = baskets) {
        model.transform(b)
          .select(col("l_orderkey").as("id"), col("prediction")).collect()
      }
    } finally model.freqItemsets.unpersist()
    ops.clearCaches()
    ops.op(s"query.$StreamRow", checkStream(spark)) {
      val df = SparkEntry.queries(StreamRow)(spark, dir)
      (df.schema, df.collect())
    }
  }
}

/** MLlib's FP-Growth on the same input: the independent answer every fit,
  * rule table and prediction is checked against. */
final case class Reference(
    itemsets: Map[Seq[String], Long],
    rules: Map[(Seq[String], String), (Double, Double, Double)],
    ranked: Array[(Set[String], String)])

object Reference {
  /** MLlib mines the itemsets; the rules follow from them by definition
    * (confidence = freq(X u y) / freq(X), lift = confidence / support(y)),
    * which is what MLlib's own rule generation computes, without its
    * extra distributed join. */
  def mllib(input: DataFrame, minSupport: Double, minConfidence: Double): Reference = {
    val n = input.count().toDouble
    val itemsets = new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("items").setMinSupport(minSupport)
      .fit(input.select("items"))
      .freqItemsets.collect().map(r => r.getSeq[String](0).sorted -> r.getLong(1)).toMap
    val rules = for {
      (items, freq) <- itemsets.toSeq if items.size > 1
      cons <- items
      ant = items.filter(_ != cons)
      confidence = freq.toDouble / itemsets(ant)
      if confidence >= minConfidence
    } yield (ant, cons) -> ((confidence, confidence / (itemsets(Seq(cons)) / n), freq / n))
    val ranked = rules.toArray
      .sortBy { case ((_, cons), (_, lift, _)) => (-lift, cons) }
      .map { case ((ant, cons), _) => (ant.toSet, cons) }
    Reference(itemsets, rules.toMap, ranked)
  }
}

object Check {
  /** Order-insensitive digest of a frame's rows: row count, XOR and sum of
    * per-row 64-bit hashes. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}/${r.get(1)}/${r.get(2)}"
  }

  def same[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what differs from the checked reference")

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def ruleOf(r: Row): ((Seq[String], String), (Double, Double, Double)) = {
    val ant = r.getSeq[String](r.fieldIndex("antecedent")).sorted
    val cons = r.getSeq[String](r.fieldIndex("consequent"))
    require(cons.size == 1, s"rule with ${cons.size} consequents")
    (ant, cons.head) -> ((r.getAs[Double]("confidence"), r.getAs[Double]("lift"),
      r.getAs[Double]("support")))
  }

  def itemsets(ref: Reference)(m: FPGrowthModel): Option[String] = {
    val got = m.freqItemsets.collect().map(r => r.getSeq[String](0).sorted -> r.getLong(1))
    if (got.length != got.map(_._1).distinct.length) Some("duplicate itemsets")
    else if (got.toMap != ref.itemsets)
      Some(s"itemsets differ from MLlib: ${got.length} vs ${ref.itemsets.size}")
    else None
  }

  def rules(ref: Reference)(rows: Array[Row]): Option[String] = {
    val got = rows.map(ruleOf)
    if (got.length != ref.rules.size || got.map(_._1).toSet != ref.rules.keySet)
      Some(s"rules differ from MLlib: ${got.length} vs ${ref.rules.size}")
    else got.collectFirst {
      case (k, (c, l, s)) if !(close(c, ref.rules(k)._1) && close(l, ref.rules(k)._2) &&
          close(s, ref.rules(k)._3)) => s"rule $k measures differ from MLlib"
    }
  }

  /** Brute force over MLlib's rules: consequents of rules whose antecedent
    * is within the basket and whose consequent is not, by lift desc then
    * consequent, first occurrence kept. */
  def expected(ref: Reference, items: Seq[String]): String = {
    val have = items.toSet
    ref.ranked.iterator
      .collect { case (ant, cons) if !have(cons) && ant.subsetOf(have) => cons }
      .distinct.mkString(", ")
  }

  /** Checks the fixed sample by brute force; every row of the output must
    * hash to what the first checked pass produced. */
  final class Predictions(ref: Reference, sample: Map[Long, Seq[String]])
      extends (Array[Row] => Option[String]) {
    private var known: Option[Int] = None

    def apply(rows: Array[Row]): Option[String] = {
      val byId = rows.iterator.map(r => r.getLong(0) -> r.getString(1)).toMap
      val d = rows.map(r => s"${r.getLong(0)}|${r.getString(1)}").sorted.mkString("\n").hashCode
      sample.collectFirst {
        case (id, items) if !byId.get(id).contains(expected(ref, items)) =>
          s"prediction for row $id differs from brute force"
      }.orElse {
        if (known.isEmpty) known = Some(d)
        same("prediction digest", Option(d), known)
      }
    }
  }
}
