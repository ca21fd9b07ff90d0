package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Lineage truncation + resumable snapshots for iterative jobs
  * (SURVEY.md §4.3.3 and north rule "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * Layout under `dir`:
  *   superstep=K/            state parquet snapshot at superstep K
  *   manifest.jsonl          one line per checkpoint: superstep + metrics
  *
  * Parquet-backed (no Iceberg jar ships in /opt/spark/jars); the layout is
  * Iceberg-shaped: immutable snapshots + an append-only manifest.
  */
final class Checkpoint(spark: SparkSession, dir: String, every: Int = 5) {
  Files.createDirectories(Paths.get(dir))
  private val manifest: Path = Paths.get(dir, "manifest.jsonl")

  /** Truncate lineage: every `every` supersteps write + re-read the state
    * (also serving resume); otherwise localCheckpoint (cheap, non-durable).
    */
  def truncate(df: DataFrame, superstep: Int, metricsJson: String = "{}"): DataFrame =
    if (superstep % every == 0) spark.read.parquet(snapshot(df, superstep, metricsJson))
    else df.transform(graft.io.Iterate.pin)

  /** Durable snapshot only: write the state's parquet and its manifest
    * line; returns the snapshot path. For callers whose state lives
    * outside Spark (the driver-state loops) — re-reading would cost a
    * schema-inference job and a file listing for a frame nobody uses. */
  def snapshot(df: DataFrame, superstep: Int, metricsJson: String = "{}"): String = {
    val snap = s"$dir/superstep=$superstep"
    df.write.mode("overwrite").parquet(snap)
    // Manifest lines are REAL JSON (jackson, ships with Spark) — hand-
    // concatenated strings were a quoting-bug class waiting to corrupt
    // resume metadata (VERDICT r1 #10).
    val line = Checkpoint.json(Map(
      "superstep" -> superstep, "path" -> snap,
      "metrics" -> Checkpoint.Raw(metricsJson))) + "\n"
    Files.writeString(manifest, line,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    snap
  }

  /** Latest durable snapshot (superstep, state) if any — the resume point. */
  def latest(): Option[(Int, DataFrame)] = {
    if (!Files.exists(manifest)) return None
    val lines = Files.readAllLines(manifest).asScala
    if (lines.isEmpty) return None
    val mapper = Checkpoint.mapper
    val steps = lines.flatMap { l =>
      try {
        val node = mapper.readTree(l)
        Option(node.get("superstep")).map(_.asInt())
      } catch { case _: Exception => None }
    }
    if (steps.isEmpty) None
    else {
      val k = steps.max
      Some((k, spark.read.parquet(s"$dir/superstep=$k")))
    }
  }
}

object Checkpoint {
  /** No-op variant for tests / one-shot runs: localCheckpoint only. */
  def inMemory(df: DataFrame, superstep: Int, every: Int = 5): DataFrame =
    if (superstep % every == 0) df.transform(graft.io.Iterate.pin) else df

  /** Marker for a value that is ALREADY serialized JSON (embed verbatim). */
  final case class Raw(json: String)

  private[io] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Serialize a small driver-side map as one JSON object line. Values:
    * numbers, booleans, strings, null, nested Maps, or Raw (pre-encoded). */
  def json(m: Map[String, Any]): String = {
    val node = mapper.createObjectNode()
    m.foreach { case (k, v) => put(node, k, v) }
    mapper.writeValueAsString(node)
  }

  private def put(node: com.fasterxml.jackson.databind.node.ObjectNode,
                  k: String, v: Any): Unit = v match {
    case null               => node.putNull(k)
    case Raw(j)             => node.set(k, mapper.readTree(j)); ()
    case s: String          => node.put(k, s); ()
    case b: Boolean         => node.put(k, b); ()
    case i: Int             => node.put(k, i); ()
    case l: Long            => node.put(k, l); ()
    case d: Double          => node.put(k, d); ()
    case f: Float           => node.put(k, f.toDouble); ()
    case m: Map[_, _]       =>
      val child = mapper.createObjectNode()
      m.foreach { case (ck, cv) => put(child, ck.toString, cv) }
      node.set(k, child); ()
    case other              => node.put(k, other.toString); ()
  }
}
