package graft.operators

import org.apache.commons.io.FileUtils

/** Shared lifecycle for the driver-side test-fixture stores (m03's
  * attachment directory, p21's planted jsonl). Production never runs these —
  * the readers point at an existing object-store path — so the helper is
  * deliberately local-filesystem-only.
  */
private[graft] object Fixtures {

  /** Build `store` exactly once: construct the content in a sibling
    * `<name>.build.*` temp dir, then publish with an atomic rename.
    * Concurrent builders (Bench + Verify on the same sf dir) each write
    * their own temp dir; rename losers verify the winner's store is in
    * place and discard their copy — any OTHER rename failure (permissions,
    * filesystem oddity) throws instead of silently dropping the fixture and
    * resurfacing later as an unrelated-looking empty-read error.
    *
    * A builder that crashes mid-build leaves its half-built `.build.` dir
    * behind forever (nothing ever renames or reads it), so each build first
    * sweeps sibling `.build.` dirs old enough that no live builder can own
    * them — builds take seconds; the 30-minute threshold is three orders of
    * magnitude of slack.
    */
  def publishOnce(store: java.io.File)(build: java.io.File => Unit): java.io.File = {
    if (!store.exists()) {
      sweepStaleBuilds(store)
      val tmp = java.nio.file.Files
        .createTempDirectory(store.getParentFile.toPath, store.getName + ".build.")
        .toFile
      build(tmp)
      if (!tmp.renameTo(store)) {
        if (!store.exists())
          throw new java.io.IOException(
            s"fixture publish failed: rename $tmp -> $store returned false and no store exists")
        FileUtils.deleteQuietly(tmp)
      }
    }
    store
  }

  private[graft] val StaleBuildMs: Long = 30L * 60 * 1000

  private def sweepStaleBuilds(store: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - StaleBuildMs
    Option(store.getParentFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(store.getName + ".build.")
        && f.lastModified() < cutoff)
      .foreach(FileUtils.deleteQuietly)
  }
}
