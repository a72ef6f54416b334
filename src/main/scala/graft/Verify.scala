package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional subset (comma-separated query names) for local iteration
    // and targeted scale spot-checks; unset → the full driver gate.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // repartition(1), NOT coalesce(1): coalesce removes the stage
        // boundary, so the ENTIRE upstream pipeline of every query runs
        // in one task — harmless on the 60k-row driver fixture, a 32×
        // slowdown at the sf10 scale gate. The shuffle keeps compute
        // parallel; one task then writes the single compare-friendly
        // file (the hash compare sorts rows, so the shuffle's order
        // nondeterminism is immaterial).
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // r16 inter-query hygiene (Bench.dropLeftoverBlocks rationale):
        // operators' lazy localCheckpoint blocks are dead once the query's
        // parquet is written; at the sf3/sf10 gates letting 157 queries'
        // worth accumulate is real memory pressure. The memoized IVF
        // assignment (a DataFrame persist) is deliberately NOT matched.
        spark.sparkContext.getPersistentRDDs.values
          .filter(_.isCheckpointed)
          .foreach(_.unpersist(blocking = false))
      }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => Provenance.jsonString(k) + ": " + Provenance.jsonString(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Fixture provenance: record each input table's mtime so a mid-round
    // driver-side fixture regen (the round-8 NTZ incident) is visible in
    // the artifact itself, not only via filesystem forensics.
    Files.writeString(Paths.get(s"$outDir/fixture_mtimes.json"),
      Provenance.fixtureMtimesJson(sfDir))
    spark.stop()
  }
}
