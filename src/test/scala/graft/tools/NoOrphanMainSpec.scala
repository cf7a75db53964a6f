package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import java.io.File

/** Every runnable object under `src/main/scala/graft/tools` and
  * `src/test/scala` must be named by some other source file or doc —
  * a main that nothing names is scratch work nobody can find or run.
  * Documents that only plan or review work (ROADMAP.md, ISSUE.md,
  * REVIEW.md) do not count: they name mains to be deleted. */
class NoOrphanMainSpec extends AnyFunSuite {
  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  // lenient decode: some repo files are not UTF-8 throughout
  private def text(f: File) = new String(java.nio.file.Files.readAllBytes(f.toPath),
    java.nio.charset.StandardCharsets.UTF_8)

  private val skipDocs = Set("ROADMAP.md", "ISSUE.md", "REVIEW.md")

  test("every tool and test-scope main is referenced outside the planning docs") {
    val roots = Seq("src/main/scala/graft/tools", "src/test/scala").map(new File(_))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    val mainObject = """(?s)object\s+(\w+)[^{]*\{(?:(?!\nobject\s).)*?def main\(""".r
    val mains = roots.flatMap(files).filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        mainObject.findAllMatchIn(text(f))
          .map(m => m.group(1) -> f).toSeq }
    assert(mains.map(_._1).contains("FoldRun"))
    val corpus = (files(new File("src")) ++ files(new File("tools")) ++
      files(new File("perfbench")).filterNot(_.getPath.contains("target")) ++
      Option(new File(".").listFiles()).toSeq.flatten.filter(_.isFile))
      .filter(f => Seq(".scala", ".py", ".md", ".sbt").exists(f.getName.endsWith))
      .filterNot(f => skipDocs(f.getName))
      .map(f => f.getCanonicalPath -> text(f))
    val orphans = mains.collect { case (name, file) if !corpus.exists {
        case (path, text) => path != file.getCanonicalPath &&
          s"\\b$name\\b".r.findFirstIn(text).isDefined } => s"$name (${file.getPath})" }
    assert(orphans.isEmpty, s"mains nothing references: ${orphans.mkString(", ")}")
  }
}
