package graft.queries

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch directories for the query catalog's on-disk fixtures (and
  * for the step probes and tests that mirror them).
  *
  * Every execution gets its own root, `<java.io.tmpdir>/<prefix>_<uuid>`,
  * so two executions of one query running at once in one JVM never
  * share a file, and a run never reads what an earlier run left. The
  * root is registered with `FileSystem.deleteOnExit`, so the JVM's
  * FileSystem shutdown hook removes it with everything under it: a
  * fixture needs no pre-delete and no trailing delete.
  */
private[graft] object Fixtures {

  /** Creates a fresh root for `prefix` and returns one path under it per
    * name, in order. The root exists (Hadoop registers only existing
    * paths for deletion); the returned children do not, so writers in
    * the default `ErrorIfExists` mode work on them, and dirs a fixture
    * derives from a child (`<child>_stage`, an index's compaction
    * staging dir) stay under the root too. */
  def dirs(s: SparkSession, prefix: String, names: String*): Seq[String] = {
    val root = new Path(System.getProperty("java.io.tmpdir"), s"${prefix}_${UUID.randomUUID}")
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(root)
    fs.deleteOnExit(root)
    names.map(n => new Path(root, n).toString)
  }

  /** Whether `df`'s optimized plan reads a file under `dir`: the probe a
    * fixture uses to show which materialization served a query. It asks
    * the plan's file listing, not its printed text, in which Spark
    * abbreviates a long scan location. */
  def scans(df: DataFrame, dir: String): Boolean = {
    val under = new Path(dir).toUri.getPath + "/"
    df.inputFiles.exists(f => new Path(f).toUri.getPath.startsWith(under))
  }
}
