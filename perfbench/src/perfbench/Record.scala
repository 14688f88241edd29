package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.JsonNode

import graft.SparkEntry

/** Records the expected output of every listed query on one table tier:
  * `expected.json` (rows and digest per query), each output as parquet
  * and `oracle_sql.json`, for the DuckDB cross-check in `record.py`. */
object Record {
  def run(spec: JsonNode, tables: Path, out: Path): Int = {
    val spark = Main.session(Runtime.getRuntime.availableProcessors)
    val names = Main.queryList(spec)
    Files.createDirectories(out)
    val expected = names.map { name =>
      val df = SparkEntry.queries(name)(spark, tables.toString)
      val (rows, digest) = Digest.of(df)
      df.write.mode("overwrite").parquet(out.resolve(name).toString)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      s"${Json.str(name)}: {\"rows\": $rows, \"digest\": ${Json.str(digest)}}"
    }
    Files.write(out.resolve("expected.json"), expected.mkString("{", ",\n", "}\n").getBytes(UTF_8))
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
      .map { case (n, sql) => s"${Json.str(n)}: ${Json.str(sql)}" }
    Files.write(out.resolve("oracle_sql.json"), oracles.mkString("{", ",\n", "}\n").getBytes(UTF_8))
    spark.stop()
    0
  }
}
