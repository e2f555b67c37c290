package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{Compaction, TxLog}

/** Standard-connector MERGE/UPDATE/DELETE through
  * `SupportsRowLevelOperations` — the twin of the GraftDml lowering
  * for sessions WITHOUT the extension rule (this test session is
  * exactly that: plain `spark.sql`, no GraftTables front door). Checks
  * group scoping (only matched keys' buckets rewrite), merge-table
  * invariants (tombstone drop, key immutability), and the lost-update
  * fence.
  */
class RowLevelOpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graft-rlo-wh")
    spark.conf.set("spark.sql.catalog.grlo",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grlo.warehouse", w)
    w
  }

  private def sqlc(q: String) = { warehouse; spark.sql(q) }

  private def mk(name: String, rows: Int, buckets: Int): String = {
    sqlc(s"""CREATE TABLE grlo.$name (
        id BIGINT, name STRING, version BIGINT, deleted BOOLEAN)
        TBLPROPERTIES ('keys'='id', 'buckets'='$buckets')""")
    sqlc(s"""INSERT INTO grlo.$name
        SELECT id, concat('u', id), 0L, false FROM range($rows)""")
    s"$warehouse/$name"
  }

  test("plain spark.sql DELETE: v2 row-level path, group-scoped rewrite") {
    val dir = mk("del", 200, 16)
    val before = TxLog.latest(spark, dir).get.buckets
    sqlc("DELETE FROM grlo.del WHERE id = 7")
    val got = sqlc("SELECT id FROM grlo.del").as[Long].collect().toSet
    assert(got.size == 199 && !got.contains(7L))
    // only id=7's bucket was rewritten: every other bucket's directory
    // is the SAME rel path as before (group replace, not full rewrite)
    val after = TxLog.latest(spark, dir).get.buckets
    val touched = keyBucket(Seq(7L), 16)
    assert(after(touched) != before(touched))
    assert((before - touched).forall { case (b, rel) =>
      after.get(b).contains(rel)
    }, "untouched buckets must keep their directories verbatim")
  }

  test("plain spark.sql UPDATE: post-images stored, others untouched") {
    mk("upd", 100, 8)
    sqlc("UPDATE grlo.upd SET name = concat(name, '!'), version = 1 " +
      "WHERE id < 3")
    val got = sqlc("SELECT id, name FROM grlo.upd")
      .as[(Long, String)].collect().toMap
    assert(got.size == 100)
    assert(got(0L) == "u0!" && got(2L) == "u2!" && got(3L) == "u3")
    // UPDATE that sets the tombstone column IS a delete
    sqlc("UPDATE grlo.upd SET deleted = true WHERE id = 50")
    assert(sqlc("SELECT count(*) AS n FROM grlo.upd")
      .as[Long].head() == 99L)
  }

  test("plain spark.sql MERGE INTO: upsert + delete through the v2 path") {
    mk("mrg", 50, 8)
    Seq((3L, "three2", 1L, false), (100L, "new", 1L, false),
      (5L, "", 1L, true))
      .toDF("id", "name", "version", "deleted")
      .createOrReplaceTempView("rlo_src")
    sqlc("""MERGE INTO grlo.mrg t USING rlo_src s ON t.id = s.id
        WHEN MATCHED AND s.deleted THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    val got = sqlc("SELECT id, name FROM grlo.mrg")
      .as[(Long, String)].collect().toMap
    assert(got.size == 50) // 50 - 1 delete + 1 insert
    assert(got(3L) == "three2" && got(100L) == "new" && !got.contains(5L))
    assert(got(4L) == "u4")
  }

  test("MERGE with WHEN NOT MATCHED BY SOURCE through the v2 path") {
    mk("mrgsrc", 30, 4)
    // keep only ids the source names; bump the named ones
    Seq((3L, "keep3", 1L, false), (7L, "keep7", 1L, false))
      .toDF("id", "name", "version", "deleted")
      .createOrReplaceTempView("rlo_src2")
    sqlc("""MERGE INTO grlo.mrgsrc t USING rlo_src2 s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = sqlc("SELECT id, name FROM grlo.mrgsrc")
      .as[(Long, String)].collect().toMap
    assert(got == Map(3L -> "keep3", 7L -> "keep7"),
      s"NOT MATCHED BY SOURCE must delete the rest, got $got")
  }

  test("key-changing UPDATE is refused, table left intact") {
    val dir = mk("keych", 40, 8)
    val before = TxLog.latest(spark, dir).get.version
    val e = intercept[Exception] {
      sqlc("UPDATE grlo.keych SET id = id + 1000 WHERE id = 1")
    }
    assert(e.getMessage.contains("key") ||
      Option(e.getCause).exists(_.getMessage.contains("key")),
      e.getMessage)
    assert(TxLog.latest(spark, dir).get.version == before)
    assert(sqlc("SELECT count(*) AS n FROM grlo.keych")
      .as[Long].head() == 40L)
  }

  test("lost-update fence: a stale replace aborts with StaleBase") {
    val dir = mk("fence", 30, 4)
    val v = Compaction.version(spark, dir)
    // a rival commit advances the table after our (simulated) scan
    Compaction.merge(spark, dir,
      Seq((0L, "rival", 1L, false)).toDF("id", "name", "version", "deleted"),
      retainHistory = true)
    val replacement = Seq((0L, "stale", 0L, false))
      .toDF("id", "name", "version", "deleted")
    val e = intercept[TxLog.StaleBase] {
      Compaction.replaceBuckets(spark, dir, replacement,
        Set(keyBucket(Seq(0L), 4)), v)
    }
    assert(e.getMessage.contains("re-run"))
    // the rival's write survived
    assert(sqlc("SELECT name FROM grlo.fence WHERE id = 0")
      .as[String].head() == "rival")
  }

  test("row-level ops compose with merge-on-read state") {
    val dir = mk("mor", 60, 8)
    Compaction.merge(spark, dir,
      Seq((1L, "mor-1", 1L, false)).toDF("id", "name", "version", "deleted"),
      mergeOnRead = true)
    assert(TxLog.latest(spark, dir).get.deltas.nonEmpty)
    // the delete reads the FOLDED state and its replace clears the
    // bucket's delta chain
    sqlc("DELETE FROM grlo.mor WHERE id = 1")
    val got = sqlc("SELECT id FROM grlo.mor").as[Long].collect().toSet
    assert(got.size == 59 && !got.contains(1L))
    val touched = keyBucket(Seq(1L), 8)
    assert(!TxLog.latest(spark, dir).get.deltas.contains(touched))
  }
}
