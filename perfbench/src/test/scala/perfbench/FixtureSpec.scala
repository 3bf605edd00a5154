package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File

class FixtureSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val root = new File("target/selftest-fixtures")

  override def beforeAll(): Unit = {
    Fixtures.delete(root)
    root.mkdirs()
    spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    Fixtures.delete(root)
  }

  private def hash(wl: Workload, seed: Long, tag: String): String = {
    val dir = new File(root, s"${wl.name}-$seed-$tag").getPath
    wl.generate(spark, dir, seed, 2000)
    Workloads.contentHash(wl.trainFrame(spark, dir))
  }

  Workloads.all.foreach { wl =>
    test(s"${wl.name}: same seed, same content; other seed, other content") {
      val a = hash(wl, 7, "a")
      assert(hash(wl, 7, "b") == a)
      assert(hash(wl, 8, "c") != a)
    }
  }

  test("fixture cache is keyed by seed and shape and evicts the rest") {
    val wl = MulticlassSweep
    val cache = new File(root, "cache")
    val (a, aSlice) = Fixtures.ensure(spark, cache, wl, 1, 2000)
    assert(Fixtures.ensure(spark, cache, wl, 1, 2000) == ((a, aSlice)))
    val (b, bSlice) = Fixtures.ensure(spark, cache, wl, 2, 2000)
    assert(a != b)
    // the warm-up slice holds a proper subset of the fixture's rows
    val sliceRows = wl.trainFrame(spark, bSlice).count()
    assert(sliceRows > 0 && sliceRows < wl.trainFrame(spark, b).count())
    Fixtures.evict(cache, wl, Set(b, bSlice))
    assert(!new File(a).exists() && !new File(aSlice).exists())
    assert(new File(b).exists() && new File(bSlice).exists())
  }
}
