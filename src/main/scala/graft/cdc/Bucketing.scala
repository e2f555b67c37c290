package graft.cdc

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualNullSafe, Literal, Pmod, XxHash64}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** THE bucketing function of the maintained-table family. One copy on
  * purpose: Compaction, Scd2 and AggView all derive partition
  * directories from it, and any drift between writers and readers (or
  * between init and a later merge) would silently split a key across
  * buckets — the corruption no spec of a single operator can catch.
  *
  * Composite keys hash ALL key columns through one `xxhash64` call in
  * the table's declared key order; the single-column form is the
  * one-element case of the same function, so pre-composite tables'
  * layouts are unchanged byte-for-byte.
  */
private[graft] object Bucketing {
  def bucketOf(keys: Seq[Column], nBuckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(nBuckets.toLong)).cast("int")

  def bucketOf(key: Column, nBuckets: Int): Column =
    bucketOf(Seq(key), nBuckets)

  /** The bucket a tuple of literal key values hashes into, folded
    * DRIVER-side through the same Catalyst `xxhash64` expression
    * [[bucketOf]] partitions by — point lookups pay zero Spark jobs
    * for the constant. The literals hash as typed: user-supplied values
    * go through [[keyLiterals]] first, because `xxhash64` of an Int and
    * of the equal Long differ.
    */
  def bucketOfLiterals(ls: Seq[Literal], nBuckets: Int): Int =
    Cast(Pmod(new XxHash64(ls), Literal(nBuckets.toLong, LongType)),
      IntegerType).eval().asInstanceOf[Int]

  /** A user-supplied key tuple as literals of the key columns' own
    * types — what both the bucket hash and the equality predicate of a
    * point read must see. `7` against a bigint key becomes `7L`; a
    * value the cast cannot carry over unchanged (`7.5` or `"abc"` on a
    * bigint key, an int overflow) is refused rather than hashed to a
    * bucket the key was never written to. A null value stays null: it
    * equals no key.
    */
  def keyLiterals(schema: StructType, keys: Seq[String], vals: Seq[Any],
      timeZone: String): Seq[Literal] =
    keys.zip(vals).map { case (k, v) =>
      val dt = schema.fields.find(_.name.equalsIgnoreCase(k))
        .getOrElse(throw new IllegalArgumentException(
          s"key column '$k' is not in the table schema")).dataType
      def refuse(why: String) = throw new IllegalArgumentException(
        s"lookup value $v (${v.getClass.getSimpleName}) for key column " +
          s"'$k' of type ${dt.sql} $why")
      val given = try Literal(v) catch {
        case NonFatal(e) => refuse(s"is not a SQL value: ${e.getMessage}")
      }
      if (v == null || given.dataType == dt) Literal(given.value, dt)
      else {
        val tz = Some(timeZone)
        val cast = try Cast(given, dt, tz).eval() catch {
          case NonFatal(e) => refuse(s"does not cast: ${e.getMessage}")
        }
        if (cast == null) refuse("casts to NULL")
        val back = try Cast(Literal(cast, dt), given.dataType, tz).eval()
          catch { case NonFatal(_) => null }
        val same = back != null &&
          EqualNullSafe(Literal(back, given.dataType), given)
            .eval().asInstanceOf[Boolean]
        if (!same) refuse(s"changes value when cast (to ${Literal(cast, dt)})")
        Literal(cast, dt)
      }
    }

  /** `keys` equal to any one of `tuples` ([[keyLiterals]] output), as
    * a Column predicate: an IN list for a single key.
    */
  def keyPredicate(keys: Seq[String], tuples: Seq[Seq[Literal]]): Column =
    if (tuples.isEmpty) lit(false)
    else if (keys.size == 1)
      col(keys.head).isin(tuples.map(t => GraftBridge.columnOf(t.head)): _*)
    else tuples.map(t => keys.zip(t)
        .map { case (k, l) => col(k) === GraftBridge.columnOf(l) }
        .reduce(_ && _))
      .reduce(_ || _)

  /** Manifest encoding of the key column list (comma-joined — init
    * rejects commas in key names so the round-trip is unambiguous).
    */
  def encodeKeys(keys: Seq[String]): String = {
    require(keys.nonEmpty, "at least one key column required")
    keys.foreach(k => require(!k.contains(","),
      s"key column name '$k' may not contain a comma"))
    require(keys.distinct.size == keys.size,
      s"duplicate key columns: ${keys.mkString(", ")}")
    keys.mkString(",")
  }

  def decodeKeys(prop: String): Seq[String] =
    prop.split(",").toSeq.filter(_.nonEmpty)
}
