package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a query that throws is a failed rep with no timings") {
    val rep = Runner.Ops.attempt(spark, NoTrace, "boom", "first",
      (_, _) => throw new IllegalStateException("hand-made failure"), "unused")
    assert(rep("ok") == false)
    assert(rep("error").toString.contains("hand-made failure"))
    assert(!rep.contains("wall_s"))
  }

  test("a query that returns is timed and digested") {
    val rep = Runner.Ops.attempt(spark, NoTrace, "range", "warm",
      (s, _) => s.range(10).toDF("v"), "unused")
    assert(rep("ok") == true)
    assert(rep("digest").toString.startsWith("10:"))
    assert(rep("wall_s").asInstanceOf[Double] > 0)
  }

  test("digest ignores row order, partitioning and column order, not values") {
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"),
      map(lit("a"), col("id")).as("m"))
    val d = Digest.of(df)
    assert(Digest.of(df.repartition(3).orderBy(desc("id"))) == d)
    assert(Digest.of(df.select("m", "k", "id")) == d)
    assert(Digest.of(df.withColumn("k", when(col("id") === 5, 99).otherwise(col("k")))) != d)
    assert(Digest.of(df.union(df.limit(1))) != d)
  }

  test("a traced span records its Spark work and its children") {
    val t = new Tracer(spark)
    t.span("outer") { t.span("inner")(spark.range(1000).groupBy(col("id") % 3).count().collect()) }
    t.close()
    val spans = t.export()("spans").asInstanceOf[Seq[Map[String, Any]]]
    assert(spans.map(_("name")) == Seq("outer", "inner"))
    val inner = spans(1)
    assert(inner("parent") == spans.head("id"))
    val counts = inner("counts").asInstanceOf[Map[String, Double]]
    assert(counts.getOrElse("spark.jobs", 0.0) >= 1 && counts.getOrElse("catalyst.actions", 0.0) == 1)
  }
}
