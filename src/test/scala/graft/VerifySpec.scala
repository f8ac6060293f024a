package graft

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `Verify.dump` with a substring filter writes exactly the matching
  * queries and their oracle entries, as JSON the driver can load. */
class VerifySpec extends SparkSuite {
  private val SfDir = "/root/testdata/sf0.001"

  test("substring filter dumps exactly the matching queries and oracle entries") {
    val out = Files.createTempDirectory("graft_verify_")
    val want = Set("q01_pricing_summary", "q02_join_revenue")
    val names = Verify.dump(spark, SfDir, out.toString, Seq("q01_", "q02_"))
    assert(names.toSet == want)
    val dirs = Files.list(out).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(dirs == want)
    for (n <- want) assert(spark.read.parquet(out.resolve(n).toString).count() ==
      SparkEntry.queries(n)(spark, SfDir).count(), n)
    val json = new ObjectMapper().readTree(Files.readString(out.resolve("oracle_sql.json")))
    assert(json.fieldNames().asScala.toSet == want)
    for (n <- want) assert(json.get(n).asText() == SparkEntry.oracleSql(n), n)
  }
}
