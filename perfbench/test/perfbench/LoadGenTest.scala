package perfbench

import java.util.SplittableRandom

/** Unit tests of the load generator, runnable without Spark:
  * `python3 perfbench/run.py --selftest`. Exits non-zero on the first
  * failed test.
  */
object LoadGenTest {
  /** A seeded-table model without Spark: ids 1..n, versions below the
    * generator's clock.
    */
  private def model(n: Int): KeyModel = {
    val m = new KeyModel
    (1 to n).foreach { i =>
      val t = ChangeGen.BaseMicros - i * 1000L
      m.load(i.toLong, t, t, isDeleted = false, RowHash.of(i.toLong, "x", ChangeGen.email(i), t, t, false))
    }
    m
  }

  /** `steps` batches of `rows`, each applied to the model before the next
    * is drawn, as the workloads do.
    */
  private def batches(seed: Long, steps: Int, rows: Int): Seq[Seq[Change]] = {
    val m = model(5000)
    val gen = new ChangeGen(seed, ChangeGen.BaseMicros)
    (1 to steps).map { _ =>
      val b = gen.batch(m, rows)
      m(b)
      b
    }
  }

  private def bytes(bs: Seq[Seq[Change]]): Seq[Array[Byte]] = bs.map(Change.render)

  private val tests: Seq[(String, () => Unit)] = Seq(
    "same seed gives byte-identical batches" -> { () =>
      val a = bytes(batches(7L, 5, 2000))
      val b = bytes(batches(7L, 5, 2000))
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    },
    "different seed gives different batches" -> { () =>
      val a = bytes(batches(7L, 5, 2000))
      val b = bytes(batches(8L, 5, 2000))
      assert(a.zip(b).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
    },
    "update/insert/delete fractions are within tolerance" -> { () =>
      val all = batches(11L, 10, 2000).flatten
      def share(k: String) = all.count(_.kind == k).toDouble / all.size
      // 20,000 rows: binomial sd ≤ 0.0035, so ±0.01 is > 2.8 sd
      assert(math.abs(share(Change.Insert) - 0.30) < 0.01, share(Change.Insert))
      assert(math.abs(share(Change.HardDelete) - 0.01) < 0.003, share(Change.HardDelete))
      assert(math.abs(share(Change.SoftDelete) - 0.03) < 0.005, share(Change.SoftDelete))
      assert(math.abs(share(Change.Update) - 0.66) < 0.01, share(Change.Update))
      assert(all.filter(_.kind == Change.SoftDelete).forall(c => c.isDeleted && !c.tomb))
      assert(all.filter(_.kind == Change.HardDelete).forall(_.tomb))
      assert(all.filter(_.kind == Change.Insert).forall(c => c.createdAt == c.updatedAt))
    },
    "batches carry distinct keys and versions above every earlier one" -> { () =>
      val bs = batches(3L, 5, 2000)
      assert(bs.forall(b => b.map(_.id).distinct.size == b.size))
      bs.sliding(2).foreach { case Seq(a, b) =>
        assert(a.map(_.updatedAt).max < b.map(_.updatedAt).min)
      }
    },
    "updates pick keys uniformly" -> { () =>
      // 5,000 keys in 5 id bands: each band should get ~1/5 of updates
      val ups = batches(5L, 10, 2000).flatten.filter(c => c.kind != Change.Insert && c.id <= 5000)
      val bands = ups.groupBy(c => (c.id - 1) / 1000).values.map(_.size.toDouble / ups.size)
      assert(bands.size == 5 && bands.forall(s => math.abs(s - 0.2) < 0.02), bands)
    },
    "half of lookups hit recently touched keys" -> { () =>
      val rng = new SplittableRandom(9L)
      val recent = (1L to 200L).map(_ + 1000000L)
      val keys = (1 to 10000).map(_ => ChangeGen.lookupKey(rng, recent, 100000L))
      val share = keys.count(_ > 1000000L).toDouble / keys.size
      assert(math.abs(share - 0.5) < 0.03, share)
    })

  def main(args: Array[String]): Unit = {
    var failed = 0
    tests.foreach { case (name, t) =>
      try { t(); println(s"ok   $name") }
      catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }
    }
    println(s"${tests.size - failed}/${tests.size} load-generator tests passed")
    if (failed > 0) sys.exit(1)
  }
}
