package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.tuneFor`'s sizing confs, pinned as literals: the sf0.1 corpus
  * (17,504,410 bytes of parquet), ten times it (sf1) and a hundred times
  * it (sf10, above the 256 MB AQE cut), at 4 and at 32 cores; and the
  * corpus sizing that feeds it. */
class BenchSpec extends AnyFunSuite {
  private val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.minPartitionNum", "spark.sql.adaptive.enabled")

  test("tuneFor sets the same sizing confs at sf0.1, sf1 and sf10") {
    for ((bytes, cpus, expected) <- Seq(
      (17504410L, 4, Seq("4", "8388608", "4", "false")),
      (17504410L, 32, Seq("4", "8388608", "4", "false")),
      (175044100L, 4, Seq("8", "14587008", "4", "false")),
      (175044100L, 32, Seq("20", "8388608", "32", "false")),
      (1750441000L, 4, Seq("8", "145870083", "4", "true")),
      (1750441000L, 32, Seq("64", "18233760", "32", "true")))) {
      val s = TestSpark.spark.newSession()
      Bench.tuneFor(s, bytes, cpus)
      assert(keys.map(s.conf.get) == expected, s"$bytes bytes on $cpus cores")
    }
  }

  test("corpusBytes sums parquet files and part-file directories, nothing else") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus")
    def write(rel: String, n: Int): Unit = {
      val f = dir.resolve(rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, new Array[Byte](n))
    }
    write("a.parquet", 10)
    write("b.parquet/part-0", 5)
    write("b.parquet/part-1", 7)
    write("notes.txt", 100)
    assert(Bench.corpusBytes(dir.toString) == 22L)
  }
}
