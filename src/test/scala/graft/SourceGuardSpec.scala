package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-path design of `src/main`: every session comes from
  * [[GraftSession]], which loads [[GraftExtensions]], so no helper
  * probes the catalog or the planner to choose between a kernel and a
  * composed fallback; every JSON document goes through the one mapper
  * in [[Json]], so no file builds its own or escapes by hand; every
  * table commit publishes through TimeTravel's manifest, so the one
  * file that swaps a path with sibling dirs is the index compactions'
  * park-and-swap, `CellCompaction.swapIn` (whose reader window its
  * callers document); every scratch dir comes from
  * `graft.queries.Fixtures`; every foreign row-level writer commits
  * through `ForeignCommit`, the one determinism guard and foreign OCC
  * loop; the ingest pipeline's state, the vector store and the CDC
  * ledger, is written only through TimeTravel; and TimeTravel reads a
  * snapshot under the schema its footer records: only a merged-schema
  * read and an unversioned one infer a schema with a Spark job. */
class SourceGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  test("src/main has no kernel probe and one SparkSession builder, in GraftSession") {
    val sources = mainSources
    val probes = for {
      (path, text) <- sources
      needle <- Seq("functionExists", "extLoaded", "strategies.contains")
      if text.contains(needle)
    } yield s"$path: $needle"
    assert(probes.isEmpty, probes.mkString("kernel-path probes in src/main:\n", "\n", ""))
    val builders = sources.flatMap { case (path, text) =>
      Seq.fill("SparkSession.builder()".r.findAllIn(text).size)(path)
    }
    assert(builders == Seq("graft/GraftSession.scala"),
      s"SparkSession.builder() must appear once, in GraftSession: $builders")
  }

  test("src/main has one commit protocol: no staged or parked sibling dirs, no store renames") {
    val sources = mainSources
    val siblings = for {
      (path, text) <- sources
      needle <- Seq("""+ ".staging"""", """+ ".old"""")
      if text.contains(needle)
    } yield s"$path: $needle"
    assert(siblings.isEmpty, siblings.mkString("sibling-dir swaps in src/main:\n", "\n", ""))
    // every vector-store commit publishes through TimeTravel's manifest
    val store = sources.collectFirst { case ("graft/sources/VectorStore.scala", t) => t }
    assert(store.exists(!_.contains("rename(")), "VectorStore must not rename paths itself")
    // the index compactions' park-and-swap is the one sibling-dir swap
    val swaps = sources.collect {
      case (path, text) if text.contains(".compact-staging") || text.contains(".compact-old") =>
        path
    }
    assert(swaps == Seq("graft/sources/CellCompaction.scala"),
      s"compaction staging/parked dirs outside CellCompaction.swapIn: $swaps")
  }

  test("pipeline state is written only through TimeTravel: no overwrite, no overwrite-hazard pin") {
    val pipeline = mainSources.filter(_._1.startsWith("graft/pipeline/"))
    val overwrites = for {
      (path, text) <- pipeline
      needle <- Seq("SaveMode.Overwrite", """.mode("overwrite")""")
      if text.contains(needle)
    } yield s"$path: $needle"
    assert(overwrites.isEmpty, overwrites.mkString("path overwrites in graft/pipeline:\n", "\n", ""))
    // a checkpoint pins the diff and the vectors for their row counts;
    // none guards a path that a run both reads and overwrites
    val ingest = pipeline.collectFirst { case ("graft/pipeline/IngestJob.scala", t) => t }
      .getOrElse(fail("graft/pipeline/IngestJob.scala missing"))
    val start = ingest.indexOf("private def pinned(")
    assert(start >= 0, "IngestJob.pinned missing")
    val pinned = ingest.substring(start, ingest.indexOf("\n  }\n", start))
    def checkpoints(text: String) = """\.localCheckpoint\(""".r.findAllIn(text).size
    assert(checkpoints(pinned) == 1 && checkpoints(ingest) == 1,
      "IngestJob may checkpoint only inside pinned")
  }

  test("TimeTravel infers a schema only for unversioned and mergeSchema reads") {
    val tt = mainSources.collectFirst { case ("graft/sources/TimeTravel.scala", t) => t }
      .getOrElse(fail("graft/sources/TimeTravel.scala missing"))
    // every parquet read chain, with the def it sits in
    val reads = """(?s)\.read\b.{0,200}?\.parquet\(""".r.findAllMatchIn(tt).map { m =>
      val defs = """def (\w+)""".r.findAllMatchIn(tt.substring(0, m.start)).toSeq
      (defs.lastOption.map(_.group(1)).getOrElse("?"), m.matched)
    }.toSeq
    assert(reads.size >= 5, reads)
    val inferring = reads.filterNot { case (in, chain) =>
      chain.contains(".schema(") || in == "unversioned" ||
        chain.contains("""option("mergeSchema", "true")""")
    }
    assert(inferring.isEmpty,
      inferring.mkString("parquet reads that infer their schema with a Spark job:\n", "\n", ""))
  }

  test("foreign writers share one determinism guard and one OCC loop, in ForeignCommit") {
    val sources = mainSources.filter(_._1.startsWith("graft/sources/"))
    def filesWith(needles: String*): Seq[String] = sources.collect {
      case (path, text) if needles.forall(text.contains) => path
    }
    assert(filesWith("queryExecution.analyzed", ".deterministic") ==
      Seq("graft/sources/ForeignCommit.scala"),
      "the foreign determinism guard must live only in ForeignCommit")
    // TimeTravel's own DML retries in withConflictRetry, outside the
    // foreign path
    val loops = (filesWith("still conflicting after") ++ filesWith("lastErr"))
      .distinct.sorted
    assert(loops == Seq("graft/sources/ForeignCommit.scala", "graft/sources/TimeTravel.scala"),
      s"the foreign OCC retry loop must live only in ForeignCommit: $loops")
    assert(sources.collectFirst { case ("graft/sources/TimeTravel.scala", t) => t }
      .exists(t => "still conflicting after".r.findAllIn(t).size == 1 &&
        t.contains("def withConflictRetry")),
      "TimeTravel's one retry loop is withConflictRetry")
  }

  test("src/main builds scratch dirs only in Fixtures") {
    val users = for {
      (path, text) <- mainSources
      needle <- Seq("java.io.tmpdir", "ProcessHandle.current().pid")
      if text.contains(needle)
    } yield path
    assert(users.distinct == Seq("graft/queries/Fixtures.scala"),
      s"tmpdir or pid-keyed paths outside graft.queries.Fixtures: $users")
  }

  test("src/main constructs an ObjectMapper only in Json and neither escapes nor scans JSON by hand") {
    val sources = mainSources
    val mappers = sources.flatMap { case (path, text) =>
      Seq.fill("""new\s+(com\.fasterxml\.jackson\.databind\.)?ObjectMapper\b""".r
        .findAllIn(text).size)(path)
    }
    assert(mappers == Seq("graft/Json.scala"),
      s"an ObjectMapper must be constructed once, in Json: $mappers")
    // PipelineConfig renders TOML, whose basic strings escape the same way
    val escaper = """replace("\"", "\\\"")"""
    val escapers = sources.collect {
      case (path, text) if text.contains(escaper) && path != "graft/config/PipelineConfig.scala" =>
        path
    }
    assert(escapers.isEmpty, s"hand-written JSON escapers in src/main: $escapers")
    // a `"key"\s*:\s*` regex or an indexOf of a quoted key reads JSON as text
    val readers = for {
      (path, text) <- sources
      needle <- Seq("""\s*:\s*""", """indexOf("\"""")
      if text.contains(needle)
    } yield s"$path: $needle"
    assert(readers.isEmpty, readers.mkString("text-scanning JSON readers in src/main:\n", "\n", ""))
  }
}
