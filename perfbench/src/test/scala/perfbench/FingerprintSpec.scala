package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("combining row hashes ignores order but not duplicates") {
    val hs = Seq(3L, -7L, Long.MaxValue, 42L)
    val a = Fingerprint.combine(hs.iterator)
    assert(a == Fingerprint.combine(hs.reverse.iterator))
    assert(a.rows == 4)
    assert(Fingerprint.combine((hs :+ 42L).iterator) != a)
    assert(Fingerprint.combine(Iterator.empty) == Fingerprint(0, 0))
  }

  test("a result's fingerprint ignores row order, partitioning and column order") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("a", "b", "c")
    val f = Fingerprint.of(df)
    assert(f.rows == 200)
    assert(Fingerprint.of(df.orderBy($"a".desc).repartition(5)) == f)
    assert(Fingerprint.of(df.select("c", "a", "b")) == f)
    assert(Fingerprint.of(df.filter($"a" =!= 7)) != f)
    assert(Fingerprint.of(df.withColumn("c", $"c" + 1)).hash != f.hash)
  }
}
