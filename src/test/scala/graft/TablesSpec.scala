package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** `Tables`' analyzed-plan cache across sessions that `graft.cli.Main`
  * builds and stops in one JVM. Not a [[SparkSpec]]: Main only builds
  * (and stops) its own session when no live session exists.
  */
class TablesSpec extends AnyFunSuite {

  test("Main.main query runs leave no stopped session in the Tables plan cache") {
    val data = java.nio.file.Files.createTempDirectory("tables_spec").toString
    val spark = SparkSession.builder().master("local[1]").getOrCreate()
    spark.range(5).toDF("r_regionkey").write.parquet(s"$data/region.parquet")
    // stop it (it may be a session left by an earlier suite), so each
    // call below builds its own session and stops it at the end
    spark.stop()
    val out = new java.io.ByteArrayOutputStream()
    (1 to 3).foreach { _ =>
      Console.withOut(out)(graft.cli.Main.main(Array("query",
        "SELECT count(*) AS n FROM region", "--data", data)))
    }
    assert(out.toString.contains("5"), out.toString)
    val stopped = Tables.cachedSessions.filter(_.sparkContext.isStopped)
    assert(stopped.isEmpty,
      s"${stopped.size} stopped session(s) still held by the plan cache")
  }
}
