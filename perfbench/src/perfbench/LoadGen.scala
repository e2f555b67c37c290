package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{Schemas, Seeder}

/** One changelog row of the `users` table. `tomb` is the hard-delete
  * tombstone column the benchmark adds to the seeded table (a true
  * value removes the key); `isDeleted` is the reference's soft delete.
  * Times are epoch microseconds.
  */
final case class Change(kind: String, id: Long, name: String, email: String,
    createdAt: Long, updatedAt: Long, isDeleted: Boolean, tomb: Boolean) {
  def hash: Long = RowHash.of(id, name, email, createdAt, updatedAt, isDeleted)
}

object Change {
  val Insert = "insert"
  val Update = "update"
  val SoftDelete = "soft_delete"
  val HardDelete = "hard_delete"

  /** The seeded table's schema plus the tombstone column. */
  val schema: StructType = Schemas.users.add(StructField("tomb", BooleanType, nullable = false))

  def toDF(spark: SparkSession, batch: Seq[Change]): DataFrame = {
    val rows = batch.map(c => Row(c.id, c.name, c.email,
      DateTimeUtils.toJavaTimestamp(c.createdAt),
      DateTimeUtils.toJavaTimestamp(c.updatedAt), c.isDeleted, c.tomb))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A batch's canonical bytes, for the determinism tests. */
  def render(batch: Seq[Change]): Array[Byte] =
    batch.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

/** Order-independent row digest shared by the model and the table side:
  * Spark's own `xxhash64` over the six `users` columns, evaluated in the
  * Spark driver for model rows and as a column expression for table scans, so
  * both sides hash identical bytes. A table digests to (row count, sum of
  * row hashes mod 2^64).
  */
object RowHash {
  def of(id: Long, name: String, email: String, createdAt: Long,
      updatedAt: Long, isDeleted: Boolean): Long =
    XxHash64(Seq(Literal(id, LongType),
      Literal(UTF8String.fromString(name), StringType),
      Literal(UTF8String.fromString(email), StringType),
      Literal(createdAt, TimestampType), Literal(updatedAt, TimestampType),
      Literal(isDeleted, BooleanType)), 42L).eval().asInstanceOf[Long]

  def of(r: Row): Long = of(r.getAs[Long]("id"), r.getAs[String]("name"),
    r.getAs[String]("email"),
    DateTimeUtils.fromJavaTimestamp(r.getAs[Timestamp]("created_at")),
    DateTimeUtils.fromJavaTimestamp(r.getAs[Timestamp]("updated_at")),
    r.getAs[Boolean]("is_deleted"))

  val column: org.apache.spark.sql.Column = xxhash64(col("id"), col("name"),
    col("email"), col("created_at"), col("updated_at"), col("is_deleted"))

  /** (rows, hash sum) of a `users`-shaped frame, in one Spark job. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum(column.cast("decimal(20,0)"))).head()
    val sum = if (r.isNullAt(1)) 0L
      else r.getDecimal(1).toBigInteger.longValue
    (r.getLong(0), sum)
  }
}

/** Latest state of every live key, as the benchmark expects the table to
  * hold it after the batches the engine committed.
  */
final class KeyModel {
  final case class Entry(createdAt: Long, updatedAt: Long, isDeleted: Boolean,
      hash: Long)

  private val entries = mutable.LongMap.empty[Entry]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  private var sum = 0L
  private var max = 0L

  def size: Int = entries.size
  def hashSum: Long = sum
  def maxId: Long = max

  def load(id: Long, createdAt: Long, updatedAt: Long, isDeleted: Boolean,
      hash: Long): Unit = {
    entries.get(id) match {
      case Some(e) => sum -= e.hash
      case None =>
        slot(id) = live.size
        live += id
    }
    entries(id) = Entry(createdAt, updatedAt, isDeleted, hash)
    sum += hash
    if (id > max) max = id
  }

  private def remove(id: Long): Unit = entries.remove(id).foreach { e =>
    sum -= e.hash
    val i = slot.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; slot(last) = i }
  }

  def get(id: Long): Option[Entry] = entries.get(id)

  def randomLive(rng: SplittableRandom): Long = live(rng.nextInt(live.size))

  /** Apply a batch the engine committed: every row wins (its version is
    * above all stored ones), tombstones remove their key.
    */
  def apply(batch: Seq[Change]): Unit = batch.foreach { c =>
    if (c.tomb) remove(c.id)
    else load(c.id, c.createdAt, c.updatedAt, c.isDeleted, c.hash)
  }

  /** Live keys whose version is strictly greater than `since`. */
  def countChangedSince(since: Long, activeOnly: Boolean): Long =
    entries.valuesIterator.count(e =>
      e.updatedAt > since && !(activeOnly && e.isDeleted)).toLong
}

object KeyModel {
  /** The model of a freshly seeded table, computed from the generator's
    * own frame (not from the engine's copy of it).
    */
  def ofSeed(seeded: DataFrame): KeyModel = {
    val m = new KeyModel
    seeded.select(col("id"),
      org.apache.spark.sql.functions.unix_micros(col("created_at")),
      org.apache.spark.sql.functions.unix_micros(col("updated_at")),
      col("is_deleted"), RowHash.column)
      .collect().foreach(r =>
        m.load(r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))
    m
  }
}

/** Seeded changelog generator following `Seeder`'s distributions: names
  * from its pools, emails derived from the id, INSERT rows with
  * `created_at == updated_at`. Each batch carries distinct keys: about
  * 30% inserts of fresh ids, 1% hard deletes, 3% soft deletes and the rest
  * updates of uniformly chosen live ids. Every batch's versions are
  * strictly above every earlier one, so the expected merge outcome is
  * simply "the batch wins".
  */
final class ChangeGen(seed: Long, base: Long) {
  private val rng = new SplittableRandom(seed)
  private var clock = base

  /** Version clock of the last generated batch. */
  def now: Long = clock

  def batch(model: KeyModel, rows: Int): Seq[Change] = {
    require(rows < 1000000, "batch versions must fit in one clock second")
    clock += 1000000L
    var nextId = model.maxId
    val seen = mutable.LongMap.empty[Unit]
    (0 until rows).map { i =>
      val u = rng.nextDouble()
      val kind =
        if (u < 0.30) Change.Insert
        else if (u < 0.31) Change.HardDelete
        else if (u < 0.34) Change.SoftDelete
        else Change.Update
      val ts = clock + i
      val name = ChangeGen.name(rng)
      if (kind == Change.Insert) {
        nextId += 1
        Change(kind, nextId, name, ChangeGen.email(nextId), ts, ts,
          isDeleted = false, tomb = false)
      } else {
        var id = model.randomLive(rng)
        while (seen.contains(id)) id = model.randomLive(rng)
        seen(id) = ()
        val e = model.get(id).get
        Change(kind, id, name, ChangeGen.email(id), e.createdAt, ts,
          isDeleted = kind == Change.SoftDelete,
          tomb = kind == Change.HardDelete)
      }
    }
  }
}

object ChangeGen {
  /** Fixed seeding instant (`Seeder`'s `base`), UTC. */
  val Base: Timestamp = Timestamp.from(java.time.Instant.parse("2026-02-01T00:00:00Z"))
  val BaseMicros: Long = DateTimeUtils.fromJavaTimestamp(Base)

  def name(rng: SplittableRandom): String =
    Seeder.NamePool(rng.nextInt(Seeder.NamePool.size)) + " " +
      Seeder.SurnamePool(rng.nextInt(Seeder.SurnamePool.size))

  def email(id: Long): String = s"user$id@example.com"

  /** A `serve` lookup key: half from the writer's recently touched keys,
    * half uniform over every id ever issued (so some miss).
    */
  def lookupKey(rng: SplittableRandom, recent: IndexedSeq[Long], maxId: Long): Long =
    if (recent.nonEmpty && rng.nextBoolean()) recent(rng.nextInt(recent.size))
    else 1L + rng.nextLong(maxId)
}
