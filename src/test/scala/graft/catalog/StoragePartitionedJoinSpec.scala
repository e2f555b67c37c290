package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Storage-partitioned joins: two maintained tables bucketed
  * identically on the join key report `KeyGroupedPartitioning` over
  * the catalog's own `bucket(n, key)` function, and Spark joins them
  * WITHOUT a shuffle — each task zips one hash bucket from both
  * sides. The 100 TB shape this buys: fact-to-fact / fact-to-state
  * co-located joins (e.g. latest-state enrichment) with zero exchange
  * on either side.
  */
class StoragePartitionedJoinSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graft-spj-wh")
    spark.conf.set("spark.sql.catalog.gspj",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspj.warehouse", w)
    w
  }

  private def sqlc(q: String) = { warehouse; spark.sql(q) }

  private def mk(name: String, rows: Int, buckets: Int,
      tag: String): Unit = {
    sqlc(s"""CREATE TABLE gspj.$name (
        id BIGINT, payload STRING, version BIGINT, deleted BOOLEAN)
        TBLPROPERTIES ('keys'='id', 'buckets'='$buckets')""")
    sqlc(s"""INSERT INTO gspj.$name
        SELECT id, concat('$tag', id), 0L, false FROM range($rows)""")
  }

  private def shuffles(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def count(p: SparkPlan): Int = p.collect {
      // only repartitioning exchanges (a final single-partition agg
      // exchange is not a join shuffle)
      case e: ShuffleExchangeExec if e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
            .HashPartitioning] => 1
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
    }.sum
    count(df.queryExecution.executedPlan)
  }

  private def withSpj[A](body: => A): A = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    keys.foreach(k => spark.conf.set(k, "true"))
    // SPJ replaces the SHUFFLED join's exchanges; keep Spark from
    // broadcasting the (tiny) test tables instead
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body finally {
      keys.foreach(k => spark.conf.unset(k))
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("co-bucketed tables join with ZERO shuffles") {
    mk("a", 3000, 16, "a")
    mk("b", 2500, 16, "b")
    withSpj {
      val q = sqlc("""SELECT count(*) AS n
          FROM gspj.a a JOIN gspj.b b ON a.id = b.id""")
      assert(q.collect().head.getLong(0) == 2500L)
      assert(shuffles(q) == 0,
        s"co-bucketed join must not shuffle:\n" +
          q.queryExecution.executedPlan)
      // values join correctly bucket by bucket
      val q2 = sqlc("""SELECT a.payload, b.payload
          FROM gspj.a a JOIN gspj.b b ON a.id = b.id WHERE a.id = 7""")
      assert(q2.as[(String, String)].head() == ("a7", "b7"))
    }
  }

  test("mismatched bucket counts fall back to a shuffled join, correctly") {
    mk("c16", 1000, 16, "c")
    mk("d8", 1000, 8, "d")
    withSpj {
      val q = sqlc("""SELECT count(*) AS n
          FROM gspj.c16 c JOIN gspj.d8 d ON c.id = d.id""")
      assert(q.collect().head.getLong(0) == 1000L)
      assert(shuffles(q) > 0, "different layouts must shuffle")
    }
  }

  test("with v2 bucketing disabled the same join shuffles, same answer") {
    // Spark 4 enables spark.sql.sources.v2.bucketing by DEFAULT, so
    // co-located joins are shuffle-free out of the box; disabling it
    // falls back to the classic shuffled plan with identical results
    mk("e", 800, 8, "e")
    mk("f", 800, 8, "f")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val q = sqlc("""SELECT count(*) AS n
          FROM gspj.e e JOIN gspj.f f ON e.id = f.id""")
      assert(q.collect().head.getLong(0) == 800L)
      assert(shuffles(q) > 0)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucket function evaluates identically to the writers' hash") {
    val fn = GraftBucketFunction.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Integer]]
    for (id <- Seq(0L, 7L, 123456789L, -5L); n <- Seq(8, 16, 256)) {
      val viaFn = fn.produceResult(
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](n, id)))
      assert(viaFn == keyBucket(Seq(id), n),
        s"id=$id n=$n")
    }
  }
}
