package graft

import java.nio.file.{Files, Path, Paths}

/**
 * Per-JVM scratch directories with RECURSIVE cleanup on exit.
 * `File.deleteOnExit` only removes empty directories, so every layout
 * query that writes a dataset copy (bucketed/partitioned/clustered/format
 * round-trips) and every bounded streaming replay's checkpoint would
 * otherwise leak a tree per invocation — bench runs each query twice
 * (warmup + timed) and an iteration loop of repeated runs fills /tmp and
 * /dev/shm. Every such directory lives under one of two [[Root]]s that a
 * shutdown hook deletes bottom-up: datasets under the temp dir,
 * checkpoints on tmpfs.
 */
object ScratchDirs {

  /** A lazily created directory under `parent` (the JVM temp dir when
    * None), deleted recursively by [[clean]] and at JVM exit. */
  private[graft] final class Root(parent: Option[Path], prefix: String) {
    lazy val path: Path = {
      val r = parent.fold(Files.createTempDirectory(prefix))(Files.createTempDirectory(_, prefix))
      Runtime.getRuntime.addShutdownHook(new Thread(() => clean()))
      r
    }

    /** A fresh directory under this root. */
    def dir(prefix: String): String = Files.createTempDirectory(path, prefix).toString

    def clean(): Unit = deleteRecursively(path)
  }

  /** `/dev/shm` when it is a writable directory, else None (temp dir). */
  private[graft] def tmpfs: Option[Path] =
    Some(Paths.get("/dev/shm")).filter(p => Files.isDirectory(p) && Files.isWritable(p))

  private val datasets = new Root(None, "graft-scratch")

  /** Checkpoints prefer tmpfs: the HDFS-backed state store writes
    * per-partition delta files + commit logs EVERY micro-batch, and
    * fsync-ing those to disk dominated the streaming bench. */
  private val checkpoints = new Root(tmpfs, "graft-ckpt-root")

  /** A fresh directory under the self-cleaning dataset root. */
  def dir(prefix: String): String = datasets.dir(prefix)

  /** A fresh directory under the self-cleaning (tmpfs) checkpoint root. */
  def checkpoint(prefix: String): String = checkpoints.dir(prefix)

  private[graft] def checkpointRoot: Path = checkpoints.path

  /** Delete `dir` and everything under it now, not at exit. */
  private[graft] def delete(dir: String): Unit = deleteRecursively(Paths.get(dir))

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized scratch DATASET: `build` runs once per `key` per JVM and the
    * directory is reused by every later caller with the same key. For the
    * staged-input pattern (streaming queries re-writing a source table as
    * N file drops): Verify/Bench run each such query repeatedly in one
    * JVM, and at rehearsal scales a staged copy is multi-GB — without
    * memoization each invocation re-writes it. Keys must encode every
    * input that determines the dataset (source dir, projection, layout). */
  def cached(key: String)(build: String => Unit): String =
    built.computeIfAbsent(key, { _ =>
      // hand the builder a NOT-YET-EXISTING child path: dataset writers
      // (parquet etc.) refuse an existing directory without overwrite mode
      val d = dir(key.replaceAll("[^A-Za-z0-9_.-]", "_").take(60)) + "/data"
      build(d)
      d
    })

  private def deleteRecursively(p: Path): Unit = {
    try {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(c => deleteRecursively(c)) finally s.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: Throwable => () }
  }
}
