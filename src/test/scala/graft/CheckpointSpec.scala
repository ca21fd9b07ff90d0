package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.algo.Hedonic
import graft.graph.GraphOps

/** Durable snapshots of the driver-state hedonic loop (graft.io.Checkpoint):
  * written from the driver arrays with no Spark job, into a local
  * directory only. */
class CheckpointSpec extends SparkSpec {

  test("driver-state snapshots submit no job: state.bin in every superstep dir, no parquet") {
    val dir = Files.createTempDirectory("graft-ckpt-jobs")
    val e = edgesOf(Fixtures.kite)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    val cfg = Hedonic.Config(maxSupersteps = 40, checkpointEvery = 1)
    val ((plain, _), plainJobs) = jobsOf("hedonic-plain")(Hedonic.run(e, init, cfg))
    val ((ckpt, steps), ckptJobs) = jobsOf("hedonic-ckpt")(
      Hedonic.run(e, init, cfg.copy(checkpointDir = Some(dir.toString))))
    assert(ckptJobs == plainJobs, "a checkpointed run submitted extra jobs")
    assert(toMap(ckpt) == toMap(plain))
    val stepDirs = Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("superstep=")).toSeq
    assert(stepDirs.size == steps.size)
    stepDirs.foreach { d =>
      val files = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
      assert(files == Set("state.bin"), s"$d holds $files")
    }
  }

  test("checkpointDir: a file: URI is a local directory; any other scheme is rejected") {
    val dir = Files.createTempDirectory("graft-ckpt-uri")
    val e = edgesOf(Fixtures.kite)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    val cfg = Hedonic.Config(maxSupersteps = 3, checkpointEvery = 2)
    Hedonic.run(e, init, cfg.copy(checkpointDir = Some(dir.resolve("u").toUri.toString)))
    assert(Files.exists(dir.resolve("u").resolve("manifest.jsonl")))
    assert(Files.exists(dir.resolve("u").resolve("superstep=2").resolve("state.bin")))
    assert(!Files.exists(Paths.get("file:")), "a file: URI became a relative directory")
    for (bad <- Seq("hdfs://nn:8020/x", "s3a://bucket/x")) {
      val err = intercept[IllegalArgumentException](
        Hedonic.run(e, init, cfg.copy(checkpointDir = Some(bad))))
      assert(err.getMessage.contains(bad))
      assert(!Files.exists(Paths.get(bad.takeWhile(_ != ':') + ":")))
    }
  }
}
