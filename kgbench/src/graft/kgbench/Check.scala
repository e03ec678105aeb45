package graft.kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, ExecutorService}
import scala.jdk.CollectionConverters._

/** Reads an `Engine.run` output back from disk and compares it with the
  * expected model: N-Triples lines must fingerprint-equal the expected
  * set, Turtle blocks must reduce to the same triples with one block per
  * subject, and the logical target must hold exactly its predicate's
  * triples. Part files are read in parallel on `pool`.
  */
final class Check(pool: ExecutorService) {
  import Check.TurtleSummary
  import Workloads._

  /** Data files of a Spark text output directory (no `_SUCCESS`, `.crc`). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.toString)

  /** Bytes of RDF under `dir`: data files plus the Turtle prefix header. */
  def rdfBytes(dir: Path): Long = {
    val header = dir.resolve("_00_prefixes.ttl")
    dataFiles(dir).map(Files.size).sum + (if (Files.exists(header)) Files.size(header) else 0L)
  }

  private def parallel[A](files: Seq[Path])(f: Path => A): Seq[A] =
    files.map(p => pool.submit(new Callable[A] { def call(): A = f(p) })).map(_.get())

  /** (line count, wrapping fingerprint sum) of an N-Triples directory. */
  def ntriples(dir: Path): (Long, Long) = {
    val parts = parallel(dataFiles(dir)) { p =>
      var n = 0L; var h = 0L
      val r = Files.newBufferedReader(p, UTF_8)
      try {
        var line = r.readLine()
        while (line != null) { n += 1; h += h64(line); line = r.readLine() }
      } finally r.close()
      (n, h)
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Parses the Turtle blocks `Sinks.writeTurtle` writes and reduces them to
    * N-Triples lines.
    */
  def turtle(dir: Path): TurtleSummary = {
    val header = dir.resolve("_00_prefixes.ttl")
    val prefixes: Map[String, String] =
      if (!Files.exists(header)) Map.empty
      else Files.readAllLines(header, UTF_8).asScala.collect {
        case l if l.startsWith("@prefix") =>
          val Array(_, p, ns) = l.trim.stripSuffix(".").trim.split("\\s+", 3)
          p.stripSuffix(":") -> ns.trim.stripPrefix("<").stripSuffix(">")
      }.toMap
    val parts = parallel(dataFiles(dir)) { p =>
      val text = new String(Files.readAllBytes(p), UTF_8)
      val parser = new TurtleBlocks(text, prefixes)
      val subjects = new HashSet64
      var n = 0L; var h = 0L; var blocks = 0L
      while (parser.more()) {
        blocks += 1
        val s = parser.term()
        subjects.add(h64(s))
        var endOfBlock = false
        while (!endOfBlock) {
          val pred = parser.term()
          var endOfPred = false
          while (!endOfPred) {
            val o = parser.term()
            n += 1; h += h64(s"$s $pred $o .")
            parser.punct() match {
              case ',' =>
              case ';' => endOfPred = true
              case '.' => endOfPred = true; endOfBlock = true
            }
          }
        }
      }
      (n, h, blocks, subjects)
    }
    val all = new HashSet64
    parts.foreach { case (_, _, _, s) => s.foreach(all.add) }
    TurtleSummary(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum,
      all.distinct()._1)
  }

  /** Problems found in one run's output, empty when it is correct. */
  def verify(w: Workload, e: Expected, returned: Long, outDir: Path): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (returned != e.triples)
      problems += s"Engine.run returned $returned triples, expected ${e.triples}"
    w.outputFormat match {
      case "turtle" =>
        val t = turtle(outDir)
        if (t.triples != e.triples || t.hash != e.hash)
          problems += s"Turtle output has ${t.triples} triples (hash ${t.hash}), " +
            s"expected ${e.triples} (hash ${e.hash})"
        if (t.blocks != e.subjects || t.distinctSubjects != e.subjects)
          problems += s"Turtle output has ${t.blocks} blocks over ${t.distinctSubjects} " +
            s"subjects, expected one block for each of ${e.subjects} subjects"
      case _ =>
        val (n, h) = ntriples(outDir)
        if (n != e.triples || h != e.hash)
          problems += s"N-Triples output has $n lines (hash $h), expected ${e.triples} (hash ${e.hash})"
    }
    e.targetPath.foreach { tp =>
      val (n, h) = ntriples(java.nio.file.Paths.get(tp))
      if (n != e.targetTriples || h != e.targetHash)
        problems += s"logical target has $n lines (hash $h), expected ${e.targetTriples} " +
          s"(hash ${e.targetHash})"
    }
    problems.result()
  }
}

object Check {
  final case class TurtleSummary(triples: Long, hash: Long, blocks: Long,
      distinctSubjects: Long)
}

/** Tokenizer for Turtle subject blocks: IRIs, prefixed names, `a`, literals
  * with optional datatype or language, and the `,` `;` `.` separators.
  * Terms come back in N-Triples form.
  */
final class TurtleBlocks(text: String, prefixes: Map[String, String]) {
  private var i = 0

  private def skipSpace(): Unit =
    while (i < text.length && Character.isWhitespace(text.charAt(i))) i += 1

  def more(): Boolean = { skipSpace(); i < text.length }

  def punct(): Char = {
    skipSpace()
    val c = text.charAt(i)
    require(c == ',' || c == ';' || c == '.', s"expected , ; or . at offset $i, got '$c'")
    i += 1
    c
  }

  def term(): String = {
    skipSpace()
    text.charAt(i) match {
      case '<' =>
        val end = text.indexOf('>', i)
        val t = text.substring(i, end + 1); i = end + 1; t
      case '"' =>
        val start = i
        i += 1
        while (text.charAt(i) != '"') i += (if (text.charAt(i) == '\\') 2 else 1)
        i += 1
        if (text.startsWith("^^", i)) { i += 2; text.substring(start, i) + term() }
        else if (i < text.length && text.charAt(i) == '@') {
          while (i < text.length && !Character.isWhitespace(text.charAt(i)) &&
            ",;".indexOf(text.charAt(i)) < 0) i += 1
          text.substring(start, i)
        } else text.substring(start, i)
      case _ =>
        val start = i
        while (i < text.length && !Character.isWhitespace(text.charAt(i)) &&
          ",;".indexOf(text.charAt(i)) < 0) i += 1
        val name = text.substring(start, i)
        if (name == "a") Workloads.RdfType
        else if (name.startsWith("_:")) name
        else {
          val colon = name.indexOf(':')
          require(colon >= 0, s"unknown token '$name' at offset $start")
          val ns = prefixes.getOrElse(name.substring(0, colon),
            throw new IllegalArgumentException(s"undeclared prefix in '$name'"))
          s"<$ns${name.substring(colon + 1)}>"
        }
    }
  }
}
