package graft.catalog

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.cdc.Compaction

/** The null-tombstone rule has two forms: the Column form
  * ([[Compaction.isDeleted]]) in every DataFrame fold, and the row form
  * ([[GraftFold.isDeleted]]) in the catalog reader's fold, which also
  * serves every point lookup and SQL point select. Over random base and
  * delta rows with NULL, true and false delete flags, the reader's
  * latest-state fold keeps exactly the keys the DataFrame fold keeps.
  */
class FoldRulePropertySpec extends SparkSpec {

  import spark.implicits._

  /** (key, version, commit sequence, delete flag); a null sequence is a
    * base-file row.
    */
  private type In = (Long, Long, Option[Long], Option[Boolean])

  private val rowGen: Gen[In] = for {
    k <- Gen.choose(1L, 4L)
    v <- Gen.choose(0L, 3L)
    seq <- Gen.option(Gen.choose(1L, 3L))
    flag <- Gen.oneOf(None, Some(true), Some(false))
  } yield (k, v, seq, flag)

  // one row per (key, version, sequence): a tie has no defined winner
  private val batchGen: Gen[Seq[In]] =
    Gen.listOfN(24, rowGen).map(_.groupBy(r => (r._1, r._2, r._3))
      .values.map(_.head).toSeq)

  private val foldInput = StructType(Seq(
    StructField("id", LongType), StructField("payload", StringType),
    StructField("version", LongType),
    StructField("deleted", BooleanType, nullable = true),
    StructField("_seq", LongType, nullable = true)))

  private def payload(r: In): String = s"${r._1}-${r._2}-${r._3}-${r._4}"

  private def rowFold(rows: Seq[In]): Set[(Long, String, Option[Boolean])] = {
    val internal = rows.map(r => InternalRow(r._1,
      UTF8String.fromString(payload(r)), r._2,
      r._4.map(Boolean.box).orNull, r._3.map(Long.box).orNull))
    val spec = GraftFoldSpec("merge",
      Array((_: PartitionedFile) => internal.iterator), foldInput,
      Seq("id"), Some("version"), Some("deleted"),
      StructType(foldInput.fields.take(4)))
    val file = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString("file:/fold-input"), 0L, 0L,
      Array.empty[String], 0L, 0L)
    GraftFold.fold(spec, Array(0), Array(file)).map(r =>
      (r.getLong(0), r.getUTF8String(1).toString,
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toSet
  }

  private def columnFold(rows: Seq[In])
      : Set[(Long, String, Option[Boolean])] = {
    val df = rows.map(r => (r._1, payload(r), r._2, r._4, r._3))
      .toDF("id", "payload", "version", "deleted", "_seq")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("version").desc, col("_seq").desc_nulls_last)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !Compaction.isDeleted("deleted"))
      .select("id", "payload", "deleted")
      .as[(Long, String, Option[Boolean])].collect().toSet
  }

  test("the row fold and the Column fold agree on NULL, true and false " +
      "delete flags") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(batchGen) { rows =>
        val want = columnFold(rows)
        val got = rowFold(rows)
        Prop(got == want) :| s"rows $rows: row fold $got, Column fold $want"
      })
    assert(res.passed, res.status.toString)
  }

  test("each flag on its own: NULL is live, true deleted, false live") {
    Seq(None, Some(true), Some(false)).foreach { flag =>
      val rows: Seq[In] = Seq((1L, 0L, None, flag))
      assert(rowFold(rows) == columnFold(rows), s"flag $flag")
      assert(rowFold(rows).isEmpty == flag.contains(true), s"flag $flag")
    }
  }
}
