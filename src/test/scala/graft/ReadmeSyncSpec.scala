package graft

/** Pins README.md to the code it describes, ending the hand-edited-count
  * drift (three consecutive rounds of stale totals): the query→operator
  * table must hold exactly one row per `SparkEntry.queries` key, and no
  * prose may carry a literal query/test total — those live in
  * `queries.size` and the sbt summary. */
class ReadmeSyncSpec extends GraftSpec {

  private lazy val readme =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")

  test("README query table holds exactly the declared query set") {
    val declared = SparkEntry.queries.keySet
    val tabled = "\\| `(q\\d+[a-z0-9_]*)` \\|".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    assert(declared.diff(tabled).isEmpty,
      s"queries missing from the README table: ${declared.diff(tabled).toSeq.sorted}")
    assert(tabled.diff(declared).isEmpty,
      s"README table rows with no declared query: ${tabled.diff(declared).toSeq.sorted}")
  }

  test("README names every native expression in graft/functions") {
    // a new native expression must land with a README mention (the r13
    // additions LangId/ClippedOverlap shipped with rows only because the
    // query table happened to cite them — this pins the module list)
    val dir = java.nio.file.Paths.get("src/main/scala/graft/functions")
    val sources = java.nio.file.Files.list(dir).iterator()
    val names = Iterator.continually(sources)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString)
      .filter(_.endsWith(".scala")).map(_.stripSuffix(".scala")).toSet
    assert(names.nonEmpty, "functions dir scan came up empty — wrong cwd?")
    val missing = names.filterNot(readme.contains)
    assert(missing.isEmpty,
      s"native expressions with no README mention: ${missing.toSeq.sorted}")
  }

  test("every module and spec the README names exists") {
    // `graft.<pkg>.<Name>` and `<pkg>.<Name>` resolve against the types
    // declared in src/main (a type need not have a file of its own:
    // `JdbcSink` lives in Sinks.scala); `<Name>Spec` against the spec
    // classes in src/test
    val types = SourceScan.sources("src/main/scala")
      .flatMap { case (_, code) => SourceScan.declaredTypes(code) }.toSet
    val specs = SourceScan.sources("src/test/scala")
      .flatMap { case (_, code) => SourceScan.declaredTypes(code) }
      .filter(_.endsWith("Spec")).toSet
    assert(types.contains("SparkEntry") && specs.contains("ReadmeSyncSpec"),
      "source scan came up empty — wrong cwd?")
    val modules =
      "\\b(?:graft|ext|analytics|streaming|stage|clf|sinks|functions)\\.([A-Z]\\w*)".r
        .findAllMatchIn(readme).map(_.group(1)).toSet
    val namedSpecs = "\\b([A-Z]\\w*Spec)\\b".r.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(modules.diff(types).isEmpty,
      s"README names modules no src/main type declares: ${modules.diff(types).toSeq.sorted}")
    assert(namedSpecs.diff(specs).isEmpty,
      s"README names specs src/test does not declare: ${namedSpecs.diff(specs).toSeq.sorted}")
  }

  test("README carries no hand-written totals that can drift") {
    val drifty = Seq(
      "\\d+ declared queries".r,
      "\\d+ tests across \\d+ suites".r,
      "All \\d+ are".r)
    drifty.foreach { p =>
      val hit = p.findFirstIn(readme)
      assert(hit.isEmpty,
        s"hand-written total '${hit.getOrElse("")}' — derive it from code or delete it")
    }
  }
}
