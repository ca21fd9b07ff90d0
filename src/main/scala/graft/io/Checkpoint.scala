package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Lineage truncation + resumable snapshots for iterative jobs
  * (SURVEY.md §4.3.3 and north rule "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * Layout under `dir`, a LOCAL directory (a plain path or a `file:` URI;
  * any other scheme is rejected — the manifest is written with java.nio):
  *   superstep=K/state.bin   driver-state runs: the (id, community) arrays
  *                           as written by the driver, no Spark job
  *   superstep=K/part-*.parquet  shuffle-path runs: the distributed state
  *   manifest.jsonl          one line per checkpoint: superstep + metrics
  *
  * A snapshot's data is complete before its manifest line is appended
  * (state.bin is written under a temporary name, synced to disk, renamed
  * into place, then its directories are synced), so the manifest never
  * names a partial snapshot: not after a process crash, nor after an OS
  * crash where directories can be synced (Linux). `latest()` is the only
  * reader and accepts either format, so a run may resume on the other
  * strategy. state.bin = header (magic and version as ints, row count as
  * a long), then the id array, then the community array as longs, all
  * big-endian; a file whose length disagrees with its header fails the
  * resume loudly.
  *
  * The layout is Iceberg-shaped: immutable snapshots + an append-only
  * manifest.
  */
final class Checkpoint(spark: SparkSession, dir: String, every: Int = 5) {
  private val root: Path = Checkpoint.localDir(dir)
  Files.createDirectories(root)
  private val manifest: Path = root.resolve("manifest.jsonl")

  /** Truncate lineage: every `every` supersteps write + re-read the state
    * (also serving resume); otherwise localCheckpoint (cheap, non-durable).
    */
  def truncate(df: DataFrame, superstep: Int, metricsJson: String = "{}"): DataFrame =
    if (superstep % every == 0) {
      val snap = Checkpoint.uri(stepDir(superstep))
      df.write.mode("overwrite").parquet(snap)
      append(superstep, metricsJson)
      spark.read.parquet(snap)
    } else df.transform(graft.io.Iterate.pin)

  /** Durable snapshot of driver-resident (id, community) state, written
    * straight from the arrays: no Spark job. */
  def snapshot(superstep: Int, ids: Array[Long], community: Array[Long],
               metricsJson: String = "{}"): Unit = {
    require(ids.length == community.length, "ids and community differ in length")
    val step = Files.createDirectories(stepDir(superstep))
    val tmp = step.resolve(Checkpoint.StateFile + ".tmp")
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    val out = new DataOutputStream(new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16))
    try {
      out.writeInt(Checkpoint.Magic); out.writeInt(Checkpoint.Version); out.writeLong(ids.length)
      var j = 0
      while (j < ids.length) { out.writeLong(ids(j)); j += 1 }
      j = 0
      while (j < community.length) { out.writeLong(community(j)); j += 1 }
      out.flush()
      ch.force(true)
    } finally out.close()
    Files.move(tmp, step.resolve(Checkpoint.StateFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    Checkpoint.syncDir(step)
    Checkpoint.syncDir(root)
    append(superstep, metricsJson)
  }

  private def stepDir(superstep: Int): Path = root.resolve(s"superstep=$superstep")

  // Manifest lines are REAL JSON (jackson, ships with Spark) — hand-
  // concatenated strings were a quoting-bug class waiting to corrupt
  // resume metadata (VERDICT r1 #10).
  private def append(superstep: Int, metricsJson: String): Unit = {
    val line = Checkpoint.json(Map(
      "superstep" -> superstep, "path" -> stepDir(superstep).toString,
      "metrics" -> Checkpoint.Raw(metricsJson))) + "\n"
    Files.writeString(manifest, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
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
      val state = stepDir(k).resolve(Checkpoint.StateFile)
      if (Files.exists(state)) {
        val (ids, community) = Checkpoint.readState(state)
        Some((k, graft.algo.Superstep.frame(spark, ids, "community", community)))
      } else Some((k, spark.read.parquet(Checkpoint.uri(stepDir(k)))))
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

  private val StateFile = "state.bin"
  private val Magic = 0x47534231 // "GSB1"
  private val Version = 1
  private val HeaderBytes = 16

  /** `dir` as a local path: a plain path as given, a `file:` URI through
    * Paths.get(URI); any other scheme would otherwise turn into a relative
    * local directory named after the URI, so it is rejected. */
  private def localDir(dir: String): Path = {
    val scheme = "^([A-Za-z][A-Za-z0-9+.-]*):".r.findFirstMatchIn(dir).map(_.group(1))
    scheme match {
      case None => Paths.get(dir).toAbsolutePath
      case Some(s) if s.equalsIgnoreCase("file") =>
        try Paths.get(java.net.URI.create(dir))
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"checkpoint dir $dir is not a local file URI", e)
        }
      case Some(s) =>
        throw new IllegalArgumentException(
          s"checkpoint dir $dir has scheme '$s'; only a local path or a file: URI is supported")
    }
  }

  /** Sync a directory's entries to disk, so a rename or a new entry in it
    * outlives an OS crash. Best effort: not every platform opens a
    * directory as a channel. */
  private def syncDir(d: Path): Unit =
    try {
      val ch = FileChannel.open(d, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** A local path as the `file:` URI Spark reads and writes, so the parquet
    * snapshot lands next to the manifest whatever the default file system. */
  private def uri(p: Path): String = "file:" + p.toString

  /** The (ids, community) arrays of a state.bin; a bad magic or version, or
    * a length that disagrees with the header's row count, throws naming
    * the file — a partial snapshot is never resumed. */
  private def readState(file: Path): (Array[Long], Array[Long]) = {
    val size = Files.size(file)
    def corrupt(why: String) = new IllegalStateException(s"corrupt checkpoint snapshot $file: $why")
    if (size < HeaderBytes) throw corrupt(s"$size bytes, shorter than the header")
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file), 1 << 16))
    try {
      val (magic, version, rows) = (in.readInt(), in.readInt(), in.readLong())
      if (magic != Magic) throw corrupt(f"bad magic 0x$magic%08x")
      if (version != Version) throw corrupt(s"unsupported version $version")
      if (rows < 0 || rows > Int.MaxValue || size != HeaderBytes + 16L * rows)
        throw corrupt(s"$size bytes, but the header's $rows rows need ${HeaderBytes + 16L * rows}")
      val ids = new Array[Long](rows.toInt)
      val community = new Array[Long](rows.toInt)
      var j = 0
      while (j < ids.length) { ids(j) = in.readLong(); j += 1 }
      j = 0
      while (j < community.length) { community(j) = in.readLong(); j += 1 }
      (ids, community)
    } finally in.close()
  }

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
