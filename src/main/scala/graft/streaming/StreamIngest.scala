package graft.streaming

import graft.table.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming ingestion into the snapshot store — the production
  * sink the memory-sink harness queries stand in for: each micro-batch
  * commits as ONE lineage unit (`<prefix>-<batchId>`), Z-clustered and
  * stats-manifested exactly like a batch append.
  *
  * Exactly-once: Structured Streaming guarantees a stable batchId per
  * input slice under a fixed checkpoint, and foreachBatch may RE-DELIVER a
  * batch whose function ran but whose checkpoint offset never committed
  * (crash in between). The lineage check makes the commit idempotent —
  * a re-delivered batch is skipped, so a crash at any point converges to
  * the same table as the uninterrupted run (the Iceberg streaming-sink
  * contract; spec: StreamIngestSpec). The incremental-ingest analog of the
  * reference's SAX parse-and-insert loop (OSMParser.java:27-94), with
  * durability per batch instead of per process.
  *
  * Scale notes: one snapshot per micro-batch means the shard count grows
  * with batch count — compact() folds history (the root's `folded`
  * lineage list keeps idempotence intact). State on the driver is just
  * the lineage-id set read from the current snapshot root.
  */
object StreamIngest {

  /** Stable id scoped to THIS checkpoint: created with the checkpoint,
    * read back on every restart from it. Batch ids are only comparable
    * within one checkpoint's lifetime — a fresh checkpoint over an
    * existing store restarts batchIds at 0, and bare `prefix-0` would
    * collide with an OLD committed unit and silently drop new data. The
    * token ties lineage ids to the offsets they are idempotent against. */
  private def streamToken(checkpoint: String): String = {
    import java.nio.file.{Files, Paths}
    // the token must live WITH the checkpoint it scopes: a non-local
    // checkpoint URI (hdfs://, s3a://) would silently resolve to a local
    // directory here, and a restart on another host would mint a fresh
    // token — re-delivered batches would re-append (duplicate rows).
    // Fail fast instead; remote-checkpoint deployments route the token
    // through the same catalog seam as multi-writer commits (SURVEY §7.4).
    // URI-scheme detection must not misread plain paths: a relative path
    // with a colon ("ckpt-12:30/cp") parses as scheme "ckpt-12", and an
    // opaque "file:chk" has a null getPath — only strings that actually
    // spell a URI ("://", or the file: prefix) are treated as one.
    val dir =
      if (checkpoint.startsWith("file:")) {
        val u = new java.net.URI(checkpoint)
        Option(u.getPath).map(Paths.get(_))
          .getOrElse(Paths.get(checkpoint.stripPrefix("file:")))
      } else {
        require(!checkpoint.contains("://"),
          s"streamToken requires a local checkpoint path, got '$checkpoint' — " +
            "remote checkpoints need the token in the checkpoint's own " +
            "filesystem (catalog seam), not the driver's local disk")
        Paths.get(checkpoint)
      }
    Files.createDirectories(dir)
    val f = dir.resolve("graft-stream-id")
    if (!Files.exists(f)) {
      // Atomicity AND no-overwrite together: the content is written to a
      // private temp file first, then PUBLISHED via createLink (link(2) —
      // atomic, fails if the target exists). CREATE_NEW-then-write would
      // leave a permanent zero-byte token on a crash between create and
      // write; ATOMIC_MOVE maps to rename(2), which silently REPLACES an
      // existing target on POSIX — a racing loser would overwrite the
      // winner's token and orphan its already-committed lineage ids.
      // Exactly one concurrent starter links successfully; losers read
      // the winner's token, which is complete the instant it exists.
      val id = java.util.UUID.randomUUID().toString.take(8)
      val tmp = dir.resolve(s"graft-stream-id.tmp.$id")
      Files.writeString(tmp, id)
      try Files.createLink(f, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
    }
    val t = Files.readString(f).trim
    require(t.nonEmpty,
      s"corrupt stream id at $f — delete the file to issue a fresh one")
    t
  }

  def run(src: DataFrame, store: SnapshotStore, checkpoint: String,
          prefix: String = "stream-batch", numPartitions: Int = 0): StreamingQuery = {
    val token = streamToken(checkpoint)
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val unit = s"$prefix-$token-$batchId"
        if (!store.committedLineage.contains(unit))
          store.append(df, unit, numPartitions)
        ()
      }
      .start()
  }
}
