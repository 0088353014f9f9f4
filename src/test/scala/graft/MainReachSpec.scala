package graft

import scala.collection.mutable

/** Main holds only what main runs. A `src/main` file is reached when it
  * declares an entry point — a harness main, `SparkEntry`, `Pipeline`,
  * `Harness`, the column bridge — or a name the benchmark's own sources
  * use, or when a reached file uses one of the top-level types it
  * declares. Comments do not count as a use. A file nothing reaches is
  * code no query, pipeline step, main or benchmark can run: delete it, or
  * move it to the test tree if only specs need it. */
class MainReachSpec extends GraftSpec {

  private val entryPoints = Set("SparkEntry", "Pipeline", "Harness",
    "GraftColumnBridge", "Bench", "Verify", "Explain", "RunPipeline")

  test("every src/main file is reached from a query, pipeline, main or the benchmark") {
    val main = SourceScan.sources("src/main/scala")
    assert(main.nonEmpty, "src/main scan came up empty — wrong cwd?")
    val benchNames = SourceScan.sources("perfbench/src/main")
      .flatMap { case (_, code) => SourceScan.identifiers(code) }.toSet
    assert(benchNames.nonEmpty, "perfbench scan came up empty — wrong cwd?")

    val declared = main.map { case (p, code) => p -> SourceScan.topLevelTypes(code) }.toMap
    val uses = main.map { case (p, code) => p -> SourceScan.identifiers(code) }.toMap
    val reached = mutable.Set.from(
      main.map(_._1).filter(p => declared(p).exists(n => entryPoints(n) || benchNames(n))))
    val frontier = mutable.Queue.from(reached)
    while (frontier.nonEmpty) {
      val used = uses(frontier.dequeue())
      main.map(_._1).filterNot(reached).filter(p => declared(p).exists(used)).foreach { p =>
        reached += p
        frontier.enqueue(p)
      }
    }
    val unreached = main.map(_._1).filterNot(reached).map(_.toString)
    assert(unreached.isEmpty,
      s"src/main files no query, pipeline, main or benchmark reaches: ${unreached.mkString(", ")}")
  }
}
