package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** The one commit path of every FOREIGN row-level writer: the DML that
  * [[DeltaExport]] (appendForeign, updateForeign, deleteForeign,
  * deleteForeignMoR) and [[IcebergExport]] (appendForeign,
  * appendEqualityDeletes, deleteForeign, updateForeign, and the ref
  * writes) run against tables other engines created. Each writer runs
  * the same steps; only the metadata codecs (Delta actions, Iceberg
  * manifests) and the loud-or-exact guards stay per format:
  *
  *   1. ANCHOR a base version: list the head first, then read its state
  *      capped at that version ([[Table.head]]).
  *   2. GUARD determinism on the analyzed plan
  *      ([[requireDeterministic]]): the pass that matches rows and the
  *      pass that stages payloads must agree on every row.
  *   3. SCAN with file positions and count the matches per file
  *      ([[matchCounts]], [[matchedPositions]]).
  *   4. STAGE the payloads under one uuid-named dir ([[Staging]]) and
  *      publish them into the table by rename.
  *   5. COMMIT in one OCC loop ([[commit]]) that retries only on the
  *      format's put-if-absent conflict.
  *
  * RE-VALIDATION RULE: whenever the head has moved past the version the
  * payloads were staged against, the loop re-checks the new head before
  * publishing on it: (a) the schema and partition spec are unchanged
  * ([[Table.shape]]), (b) every affected file is still live, and (c)
  * each affected file's delete state is unchanged ([[Table.files]]).
  * A miss fails loudly: the staged payloads name the base's files and
  * positions, and publishing them past a rewrite would lose rows or
  * resurrect them. */
private[graft] object ForeignCommit {

  /** What the OCC loop reads of one foreign table. Implementations
    * memoize state per version, so a head is read once however often
    * the loop consults it. */
  private[sources] trait Table {
    def path: String
    /** The current head version, read fresh. */
    def head(): Long
    /** The schema and partition spec at `version`, as a comparable
      * value; re-runs the format's writer guards on that state. */
    def shape(version: Long): Any
    /** Live data files at `version`: file key → its delete state. */
    def files(version: Long): Map[String, Any]
    /** The format's put-if-absent collision. */
    def isConflict(e: Throwable): Boolean
    def shapeMoved(op: String): String
    def fileMoved(op: String, file: String): String
  }

  /** Race seam: runs once per [[commit]], after the payloads are staged
    * and before the first publish attempt — the window a concurrent
    * writer's commit lands in. Tests plant such a commit here; nothing
    * else sets it. The hook runs with the seam cleared, so a writer it
    * calls commits normally. */
  private[graft] val beforeCommit =
    new scala.util.DynamicVariable[() => Unit](() => ())

  /** Fail unless every expression is deterministic once analyzed
    * against `scan` (an unresolved `rand()` would claim determinism). */
  private[sources] def requireDeterministic(scan: DataFrame,
      exprs: Seq[Column], message: String): Unit =
    scan.select(exprs: _*).queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if !p.projectList.forall(_.deterministic) =>
        throw new UnsupportedOperationException(message)
      case _ => ()
    }

  /** Per-file (rows, matched rows) of a positioned scan whose file key
    * column is `fileKey`: one distributed aggregate, O(files) driver. */
  private[sources] def matchCounts(scan: DataFrame, fileKey: String,
      matched: Column): Map[String, (Long, Long)] = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    scan.groupBy(col(fileKey))
      .agg(count(lit(1)), sum(when(matched, 1L).otherwise(0L)))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** Distinct (file, position) pairs of `coords` (a string and a long
    * column), grouped per file with sorted positions: O(matched rows)
    * driver, the merge-on-read payload. */
  private[sources] def matchedPositions(coords: DataFrame): Seq[(String, Seq[Long])] =
    coords.distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, ps) => f -> ps.map(_._2).toSeq.sorted }

  /** One writer's staging dir, `<table>/_graft_staging_<uuid>`: payloads
    * are written under it, then renamed into the table. [[close]]
    * deletes what was never published. */
  private[sources] final class Staging(spark: SparkSession, table: String) {
    val uuid: String = java.util.UUID.randomUUID().toString.take(12)
    val root: Path = new Path(s"$table/_graft_staging_$uuid")
    val conf: Configuration = spark.sessionState.newHadoopConf()
    val fs: org.apache.hadoop.fs.FileSystem = root.getFileSystem(conf)

    def dir(sub: String): Path = new Path(root, sub)

    /** Rename each parquet part under `dir`, in part-name order, to
      * `<table>/<name(k)>`; returns (name, destination) pairs. */
    def publish(dir: Path, name: Int => String): Seq[(String, Path)] =
      if (!fs.exists(dir)) Nil
      else parts(dir).zipWithIndex.map { case (p, k) =>
        val dest = new Path(table, name(k))
        fs.mkdirs(dest.getParent)
        if (!fs.rename(p, dest)) throw new java.io.IOException(
          s"staging publish failed for $dest")
        name(k) -> dest
      }

    def parts(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).sortBy(_.getName)

    def close(): Unit = fs.delete(root, true): Unit
  }

  /** Write `src` under `dir` in ONE distributed write, one `__gp=<i>`
    * subdir per distinct value tuple of `keys`, `i` the tuple's index
    * in the returned array; `check` sees the tuples before anything is
    * written. The frame is persisted across the tuple collect and the
    * write, and a row whose tuple is absent from the collected map
    * fails the job instead of silently dropping (a nondeterministic
    * input that re-evaluated after a cache eviction). */
  private[sources] def writeGrouped(spark: SparkSession, src: DataFrame,
      keys: Seq[Column], data: Seq[Column], dir: Path)(
      check: Array[Row] => Unit): Array[Row] = {
    import org.apache.spark.sql.functions.{assert_true, broadcast, col, lit, when}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val cached = src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tupleDf = cached.select(keys.zipWithIndex.map { case (k, i) => k.as(s"__gt$i") }: _*)
      val tuples = tupleDf.distinct().collect()
      check(tuples)
      val idx = spark.createDataFrame(
        tuples.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }.toSeq.asJava,
        StructType(tupleDf.schema.fields.map(_.copy(nullable = true)) :+
          StructField("__gp", IntegerType, nullable = false)))
      val gp = when(
        assert_true(col("__gp").isNotNull,
          lit("appendForeign: row's partition tuple is absent from the " +
            "collected map — nondeterministic input re-evaluated?")).isNull,
        col("__gp")).as("__gp")
      cached.join(broadcast(idx),
        keys.zipWithIndex.map { case (k, i) => k <=> col(s"__gt$i") }.reduce(_ && _),
        "left")
        .select(data :+ gp: _*)
        .write.partitionBy("__gp").mode("overwrite").parquet(dir.toString)
      tuples
    } finally cached.unpersist(): Unit
  }

  /** Fail unless the parts staged under `dir` hold no null in `cols`
    * ((physical, logical) name pairs), read from the footers' null
    * counts: the NOT NULL / `required` writer obligation, checked
    * before anything is published and without a second pass over the
    * frame. `violation` leads the message; `obligation` names what a
    * file without statistics cannot validate. */
  private[sources] def requireNoStagedNulls(conf: Configuration, dir: Path,
      cols: Seq[(String, String)], obligation: String, violation: String): Unit =
    if (cols.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val fs = dir.getFileSystem(conf)
      val counts = scala.collection.mutable.Map[String, Option[Long]](
        cols.map(_._1 -> (Some(0L): Option[Long])): _*)
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) {
          val footer = FooterStats.footer(conf, s.getPath)
          if (FooterStats.rows(footer) > 0) cols.foreach { case (c, _) =>
            val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala
              .filter(_.getPath.toDotString == c))
            val stats = chunks.map(_.getStatistics)
            val n: Option[Long] =
              if (chunks.isEmpty || stats.exists(st => st == null || !st.isNumNullsSet))
                None
              else Some(stats.map(_.getNumNulls).sum)
            counts(c) = for { a <- counts(c); b <- n } yield a + b
          }
        }
      }
      val violated = cols.flatMap { case (phys, logical) =>
        counts(phys) match {
          case Some(0L) => None
          case Some(c) => Some(s"$logical ($c nulls)")
          case None => throw new IllegalStateException(
            s"staged files carry no null-count statistics for $logical; " +
              s"cannot validate $obligation")
        }
      }
      if (violated.nonEmpty) throw new IllegalArgumentException(
        s"$violation: ${violated.mkString(", ")}")
    }

  /** The bare OCC loop: read the head, `attempt` a publish on it, and
    * retry only on the format's put-if-absent conflict, at most
    * `maxRetries` times. `attempt` gets (head, attempt number, the last
    * conflict). */
  private[sources] def retry[R](table: Table, maxRetries: Int)(
      attempt: (Long, Int, Throwable) => R): R = {
    var n = 0
    var lastErr: Throwable = null
    while (n <= maxRetries) {
      val v = table.head()
      try return attempt(v, n, lastErr)
      catch {
        case e: Throwable if table.isConflict(e) =>
          lastErr = e
          n += 1
      }
    }
    throw new java.io.IOException(
      s"commit to ${table.path} still conflicting after $maxRetries retries",
      lastErr)
  }

  /** Publish payloads staged against `base` with [[retry]], applying
    * the re-validation rule to every head past `base`; `affected`
    * (the keys of the files the payloads rewrite or tombstone) is
    * evaluated only if the head moved. `publish` gets (head, attempt)
    * and commits version head + 1. */
  private[sources] def commit[R](table: Table, base: Long, op: String,
      maxRetries: Int, affected: => Set[String] = Set.empty)(
      publish: (Long, Int) => R): R = {
    val hook = beforeCommit.value
    beforeCommit.withValue(() => ())(hook())
    lazy val keys = affected.toSeq.sorted
    lazy val files0 = table.files(base)
    var validated = base
    retry(table, maxRetries) { (v, n, lastErr) =>
      if (v != validated) {
        if (table.shape(v) != table.shape(base))
          throw new IllegalStateException(table.shapeMoved(op), lastErr)
        if (keys.nonEmpty) {
          val now = table.files(v)
          keys.find(k => !now.contains(k) || now.get(k) != files0.get(k))
            .foreach(k => throw new IllegalStateException(table.fileMoved(op, k), lastErr))
        }
        validated = v
      }
      publish(v, n)
    }
  }
}
