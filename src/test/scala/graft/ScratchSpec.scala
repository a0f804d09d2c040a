package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.io.Scratch
import graft.tools.ScalingProbe

/** The one scratch-path policy: two roots, a disk fallback for the fast
  * one, and every driver and probe scratch path built on them. */
class ScratchSpec extends AnyFunSuite with Matchers {

  private val dir = "data/sf0.01/"

  test("fast root falls back to disk when the tmpfs candidate is missing or a plain file") {
    val tmp = Files.createTempDirectory("graft-scratch")
    try {
      Scratch.fastRoot(tmp.toString) shouldBe tmp.toString
      Scratch.fastRoot(tmp.resolve("missing").toString) shouldBe "/tmp"
      val plain = Files.createFile(tmp.resolve("plain"))
      Scratch.fastRoot(plain.toString) shouldBe "/tmp"
      Files.delete(plain)
    } finally Files.delete(tmp)
    Scratch.disk shouldBe "/tmp"
    Scratch.fast should (equal("/dev/shm") or equal("/tmp"))
  }

  test("every driver and probe path helper resolves to its established path") {
    // the paths as they stood before the scratch roots were factored out;
    // fast-root paths move under /tmp on a host without a usable /dev/shm
    val established = Seq(
      SparkEntry.simhashSigPath -> "/tmp/graft_oracle_aux/simhash_sigs.parquet",
      SparkEntry.embedBucketPath -> "/tmp/graft_oracle_aux/embed_buckets.parquet",
      SparkEntry.ivfTablePath(dir) -> "/tmp/graft_oracle_aux/ivf_table_data_sf0.01",
      SparkEntry.minhashLshTablePath(dir) -> "/dev/shm/graft_oracle_aux/minhash_lsh_data_sf0.01",
      SparkEntry.nearDupPairsPath(dir) -> "/tmp/graft_oracle_aux/neardup_pairs_data_sf0.01",
      SparkEntry.snapshotLogPath(dir) -> "/tmp/graft_oracle_aux/snaplog_data_sf0.01",
      SparkEntry.streamingDedupBase(dir) -> "/dev/shm/graft_oracle_aux/sdedup_data_sf0.01",
      SparkEntry.mediaFixturesPath(dir) -> "/tmp/graft_oracle_aux/media_fixtures_data_sf0.01",
      SparkEntry.streamEventsLanding(dir) -> "/dev/shm/graft_oracle_aux/stream_events_data_sf0.01",
      SparkEntry.sinkPath(dir) -> "/dev/shm/graft_oracle_aux/violations_sink_data_sf0.01",
      SparkEntry.streamCheckpointPath("verdicts", dir) -> "/dev/shm/graft-ckpt-verdicts_data_sf0.01",
      SparkEntry.streamCheckpointPath("sessions", dir) -> "/dev/shm/graft-ckpt-sessions_data_sf0.01",
      SparkEntry.streamCheckpointPath("anomalies", dir) -> "/dev/shm/graft-ckpt-anomalies_data_sf0.01",
      ScalingProbe.localDir -> "/dev/shm/graft-spark")
    established.foreach { case (got, path) =>
      got shouldBe path.replaceFirst("^/dev/shm/", Scratch.fast + "/")
    }
  }

  test("the oracle side channels are the paths the oracle SQL reads") {
    SparkEntry.oracleSql("q_embed_neardups") should include(
      s"'${SparkEntry.embedBucketPath}/*.parquet'")
    SparkEntry.oracleSql("q_simhash_neardups") should include(
      s"'${SparkEntry.simhashSigPath}/*.parquet'")
  }

  test("probe row output is keyed by input path and core count") {
    val a = ScalingProbe.rowOutPath(8, "tables/turns_a.parquet")
    a shouldBe s"${Scratch.fast}/graft-spark/rowout-8_tables_turns_a.parquet"
    ScalingProbe.rowOutPath(8, "tables/turns_b.parquet") should not be a
    ScalingProbe.rowOutPath(4, "tables/turns_a.parquet") should not be a
  }
}
