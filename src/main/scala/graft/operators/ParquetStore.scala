package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A JVM-lifetime parquet artifact store: the first call for a key runs
  * `build` and writes its result to a fresh `prefix`-named directory;
  * every later call for that key reads the parquet, with the schema read
  * back once at build time, so no later read runs a schema-inference job.
  * Keys are the normalized absolute table directory plus a caller suffix
  * (which holds the table content token, so a rewritten table builds
  * afresh).
  * Directories land under `graft.labelstore.dir`, falling back to
  * `graft.checkpoint.dir`, then java.io.tmpdir — set one of the confs in
  * any long-lived deployment so a tmp-reaper cannot collect an artifact
  * mid-session. Each directory is deleted when the JVM's file systems
  * close at exit, so no run leaves its artifacts behind; only directories
  * this store created are registered.
  */
private[operators] final class ParquetStore(prefix: String) {
  private val stored =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  def apply(s: SparkSession, dir: String, suffix: String)(
      build: => DataFrame): DataFrame = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString + suffix
    val (path, schema) = stored.computeIfAbsent(key, _ => {
      val base = s.conf.getOption("graft.labelstore.dir")
        .orElse(s.conf.getOption("graft.checkpoint.dir"))
        .map { d =>
          val p = Paths.get(d)
          Files.createDirectories(p)
          Files.createTempDirectory(p, prefix)
        }
        .getOrElse(Files.createTempDirectory(prefix))
        .toString
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(p)
      build.write.mode("overwrite").parquet(base)
      (base, s.read.parquet(base).schema)
    })
    s.read.schema(schema).parquet(path)
  }
}
