package graft.kgbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** KGCW-shaped inputs and their expected output.
  *
  * Plain JVM code with no Spark: each workload writes its source files and
  * mapping text from a seed, and builds the expected triple set from the
  * same rows with its own term rules (RML templates percent-encode with
  * Python `quote(safe="_-.~:@=+%")`, literals escape `\ " \n \r \t`, and a
  * null/blank/`nan`/`N/A`/`NULL` value suppresses only its own triple).
  * The program under test sees only the written files.
  */
object Workloads {

  val All: Seq[Workload] = Seq(RecordsNt, JoinsNm, JsonTurtle)

  def apply(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (expected one of ${All.map(_.name).mkString(", ")})"))

  /** What a correct run must produce. `targetPath` and the `target*` fields
    * describe the one logical target, when the mapping declares one.
    */
  final case class Expected(triples: Long, hash: Long, subjects: Long,
      targetPath: Option[String], targetTriples: Long, targetHash: Long)

  final case class Generated(mapping: String, expected: Expected, rows: Long)

  val Ex = "http://ex.org/"
  val RdfType = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

  val Prefixes: String =
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |@prefix ex: <$Ex> .
       |""".stripMargin

  /** 64-bit fingerprint of one N-Triples line; a triple set's fingerprint
    * is the wrapping sum over its distinct lines, so it is order-free.
    */
  def h64(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x2f1a7c3d).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x6b43a9b5).toLong & 0xffffffffL)

  /** A multiset of 64-bit fingerprints reduced to its distinct count and sum. */
  final class HashSet64 {
    private var a = new Array[Long](1 << 16)
    private var n = 0
    def add(h: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = h; n += 1
    }
    def addLine(s: String, p: String, o: String): Unit = add(h64(s"$s $p $o ."))
    def foreach(f: Long => Unit): Unit = { var i = 0; while (i < n) { f(a(i)); i += 1 } }
    /** (distinct count, wrapping sum of distinct fingerprints) */
    def distinct(): (Long, Long) = {
      java.util.Arrays.sort(a, 0, n)
      var count = 0L; var sum = 0L; var i = 0
      while (i < n) {
        if (i == 0 || a(i) != a(i - 1)) { count += 1; sum += a(i) }
        i += 1
      }
      (count, sum)
    }
  }

  // ---- term rules of the expected model ----

  private def safe(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      "_.-~:@=+%".indexOf(c) >= 0

  def encode(v: String): String = {
    val sb = new StringBuilder
    v.getBytes(UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (b >= 0 && safe(c)) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  def literal(v: String): String = {
    val sb = new StringBuilder("\"")
    v.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def isNull(v: String): Boolean =
    v == null || v.trim.isEmpty || v == "nan" || v == "N/A" || v == "NULL"

  def iri(s: String): String = s"<$s>"

  // ---- value generation ----

  /** Seeded vocabulary: lower-case words of 3–10 letters. */
  final class Vocab(seed: Long, size: Int) {
    private val words: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      Array.fill(size) {
        val len = 3 + r.nextInt(8)
        new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      }
    }
    private val specials = Array("\"", ",", "\\", "é", "'", " & co")
    /** One or two words; 2% of values carry a character that needs CSV
      * quoting, JSON or N-Triples escaping, or is non-ASCII.
      */
    def value(r: SplittableRandom): String = {
      val w = words(r.nextInt(words.length))
      val v = if (r.nextInt(4) == 0) w + " " + words(r.nextInt(words.length)) else w
      if (r.nextInt(50) == 0) v + specials(r.nextInt(specials.length)) else v
    }
  }

  def csvField(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  def jsonString(v: String): String =
    "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  /** A logical target: an N-Triples dump of one POM's triples under `outDir`. */
  def targetPath(outDir: Path): String = outDir.resolve("target").toAbsolutePath.toString
  def targetDecl(outDir: Path): String =
    s""" ; rml:logicalTarget [ rml:target [ rml:path "${targetPath(outDir)}" ] ;
       |      rml:serialization <http://www.w3.org/ns/formats/N-Triples> ]""".stripMargin

  def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)

  /** Row `i`'s generator: duplicates re-derive an earlier row from its index. */
  def rowRandom(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + i)
}

sealed trait Workload {
  def name: String
  /** Engine.Config.outputFormat of the main output. */
  def outputFormat: String
  /** Writes the sources into `inDir` and returns mapping and expectation;
    * a logical target, if any, is declared under `outDir`.
    */
  def generate(seed: Long, inDir: Path, outDir: Path): Workloads.Generated
  /** Input make-up, for the report. */
  def describe: String
}

/** KGCW records / duplicates / empty-values axes: one 20-column CSV,
  * 1 TM = template subject + rr:class + 19 reference POMs, N-Triples.
  */
object RecordsNt extends Workload {
  import Workloads._
  val name = "records_nt"
  val outputFormat = "n-triples"
  val Rows = 100000
  val ValueCols = 19
  val DupShare = 0.25
  val EmptyShare = 0.10
  def describe: String =
    s"$Rows rows x ${ValueCols + 1} columns, ${(DupShare * 100).toInt}% duplicated rows, " +
      s"${(EmptyShare * 100).toInt}% empty cells"

  def mapping: String = Prefixes +
    s"""<${Ex}map/Records> a rr:TriplesMap ;
       |  rml:logicalSource [ rml:source "records.csv" ; rml:referenceFormulation ql:CSV ] ;
       |  rr:subjectMap [ rr:template "${Ex}rec/{id}" ; rr:class ex:Record ] ;
       |""".stripMargin +
      (1 to ValueCols).map(j =>
        s"""  rr:predicateObjectMap [ rr:predicate ex:p$j ; rr:objectMap [ rml:reference "c$j" ] ]""")
        .mkString("", " ;\n", " .\n")

  def generate(seed: Long, inDir: Path, outDir: Path): Generated = {
    val vocab = new Vocab(seed, 5000)
    val set = new HashSet64
    val subjects = new HashSet64
    val w = writer(inDir.resolve("records.csv"))
    try {
      w.write(("id" +: (1 to ValueCols).map(j => s"c$j")).mkString(","))
      w.newLine()
      val pick = new SplittableRandom(seed ^ 0x1dL)
      var i = 0
      while (i < Rows) {
        val src = if (i > 0 && pick.nextDouble() < DupShare) pick.nextInt(i) else i
        val r = rowRandom(seed, 1, src)
        val id = s"r$src"
        val vals = Array.fill(ValueCols)(
          if (r.nextDouble() < EmptyShare) "" else vocab.value(r))
        w.write((id +: vals.toSeq).map(csvField).mkString(","))
        w.newLine()
        val s = iri(s"${Ex}rec/${encode(id)}")
        subjects.add(h64(s))
        set.addLine(s, RdfType, iri(s"${Ex}Record"))
        vals.indices.foreach { j =>
          if (!isNull(vals(j))) set.addLine(s, iri(s"${Ex}p${j + 1}"), literal(vals(j)))
        }
        i += 1
      }
    } finally w.close()
    val (n, h) = set.distinct()
    Generated(mapping, Expected(n, h, subjects.distinct()._1, None, 0, 0), Rows)
  }
}

/** KGCW joins axis: child and parent CSVs, joined N-M (about 5-5) on a key
  * of which about half the child values match, N-Triples. The parent's
  * `ex:b1` POM is also routed to a logical target.
  */
object JoinsNm extends Workload {
  import Workloads._
  val name = "joins_nm"
  val outputFormat = "n-triples"
  val ChildRows = 150000
  val ParentRows = 150000
  val FanOut = 5
  /** Parent keys are [0, K); child keys are [K/2, 3K/2), so half match. */
  val Keys: Int = ParentRows / FanOut
  def describe: String =
    s"$ChildRows child rows (cid,key,a1,a2) x $ParentRows parent rows (pid,key,b1), " +
      s"$Keys parent keys (~$FanOut parents per key), child keys offset by ${Keys / 2} " +
      s"(~${ChildRows / Keys} children per key, ~50% of child rows match); " +
      "parent ex:b1 also routed to an N-Triples logical target"

  def mapping(outDir: Path): String = Prefixes +
    s"""<${Ex}map/Child> a rr:TriplesMap ;
       |  rml:logicalSource [ rml:source "child.csv" ; rml:referenceFormulation ql:CSV ] ;
       |  rr:subjectMap [ rr:template "${Ex}child/{cid}" ; rr:class ex:Child ] ;
       |  rr:predicateObjectMap [ rr:predicate ex:a1 ; rr:objectMap [ rml:reference "a1" ] ] ;
       |  rr:predicateObjectMap [ rr:predicate ex:a2 ; rr:objectMap [ rml:reference "a2" ] ] ;
       |  rr:predicateObjectMap [ rr:predicate ex:rel ; rr:objectMap [
       |    rr:parentTriplesMap <${Ex}map/Parent> ;
       |    rr:joinCondition [ rr:child "key" ; rr:parent "key" ] ] ] .
       |<${Ex}map/Parent> a rr:TriplesMap ;
       |  rml:logicalSource [ rml:source "parent.csv" ; rml:referenceFormulation ql:CSV ] ;
       |  rr:subjectMap [ rr:template "${Ex}parent/{pid}" ; rr:class ex:Parent ] ;
       |  rr:predicateObjectMap [ rr:predicate ex:b1 ;
       |    rr:objectMap [ rml:reference "b1"${targetDecl(outDir)} ] ] .
       |""".stripMargin

  def generate(seed: Long, inDir: Path, outDir: Path): Generated = {
    val vocab = new Vocab(seed, 5000)
    val set = new HashSet64
    val subjects = new HashSet64
    val target = new HashSet64
    val parentsByKey = Array.fill(Keys)(List.empty[String])
    val pw = writer(inDir.resolve("parent.csv"))
    try {
      pw.write("pid,key,b1"); pw.newLine()
      (0 until ParentRows).foreach { i =>
        val r = rowRandom(seed, 2, i)
        val (pid, key, b1) = (s"p$i", r.nextInt(Keys), vocab.value(r))
        pw.write(Seq(pid, s"k$key", b1).map(csvField).mkString(",")); pw.newLine()
        val s = iri(s"${Ex}parent/${encode(pid)}")
        subjects.add(h64(s))
        parentsByKey(key) = s :: parentsByKey(key)
        set.addLine(s, RdfType, iri(s"${Ex}Parent"))
        if (!isNull(b1)) {
          set.addLine(s, iri(s"${Ex}b1"), literal(b1))
          target.addLine(s, iri(s"${Ex}b1"), literal(b1))
        }
      }
    } finally pw.close()
    val cw = writer(inDir.resolve("child.csv"))
    try {
      cw.write("cid,key,a1,a2"); cw.newLine()
      (0 until ChildRows).foreach { i =>
        val r = rowRandom(seed, 3, i)
        val (cid, key) = (s"c$i", Keys / 2 + r.nextInt(Keys))
        val (a1, a2) = (vocab.value(r), vocab.value(r))
        cw.write(Seq(cid, s"k$key", a1, a2).map(csvField).mkString(",")); cw.newLine()
        val s = iri(s"${Ex}child/${encode(cid)}")
        subjects.add(h64(s))
        set.addLine(s, RdfType, iri(s"${Ex}Child"))
        if (!isNull(a1)) set.addLine(s, iri(s"${Ex}a1"), literal(a1))
        if (!isNull(a2)) set.addLine(s, iri(s"${Ex}a2"), literal(a2))
        if (key < Keys) parentsByKey(key).foreach(p => set.addLine(s, iri(s"${Ex}rel"), p))
      }
    } finally cw.close()
    val (n, h) = set.distinct()
    val (tn, th) = target.distinct()
    Generated(mapping(outDir),
      Expected(n, h, subjects.distinct()._1, Some(targetPath(outDir)), tn, th),
      ChildRows.toLong + ParentRows)
  }
}

/** KGCW mappings axis on JSON lines: 5 TM x 3 POM over one subject template,
  * the last POM routed to its own N-Triples logical target, Turtle output.
  */
object JsonTurtle extends Workload {
  import Workloads._
  val name = "json_turtle"
  val outputFormat = "turtle"
  val Rows = 25000
  val Tms = 5
  val PomsPerTm = 3
  val DupShare = 0.10
  val MissingShare = 0.05
  def fields: Int = Tms * PomsPerTm
  def describe: String =
    s"$Rows JSON lines x ${fields + 1} fields, ${(DupShare * 100).toInt}% duplicated rows, " +
      s"${(MissingShare * 100).toInt}% missing fields; $Tms TMs x $PomsPerTm POMs, " +
      s"ex:f$fields also routed to an N-Triples logical target"

  def mapping(outDir: Path): String = Prefixes +
    s"@prefix item: <${Ex}item/> .\n" +
    (1 to Tms).map { t =>
      val poms = (1 to PomsPerTm).map { k =>
        val f = (t - 1) * PomsPerTm + k
        val target = if (f == fields) targetDecl(outDir) else ""
        s"""  rr:predicateObjectMap [ rr:predicate ex:f$f ; rr:objectMap [ rml:reference "f$f"$target ] ]"""
      }
      val cls = if (t == 1) " ; rr:class ex:Item" else ""
      s"""<${Ex}map/Item$t> a rr:TriplesMap ;
         |  rml:logicalSource [ rml:source "items.jsonl" ; rml:referenceFormulation ql:JSONPath ;
         |    rml:iterator "$$" ] ;
         |  rr:subjectMap [ rr:template "${Ex}item/{id}"$cls ] ;
         |""".stripMargin + poms.mkString("", " ;\n", " .\n")
    }.mkString

  def generate(seed: Long, inDir: Path, outDir: Path): Generated = {
    val vocab = new Vocab(seed, 5000)
    val set = new HashSet64
    val target = new HashSet64
    val subjects = new HashSet64
    val w = writer(inDir.resolve("items.jsonl"))
    val targetPred = iri(s"${Ex}f$fields")
    try {
      val pick = new SplittableRandom(seed ^ 0x3bL)
      var i = 0
      while (i < Rows) {
        val src = if (i > 0 && pick.nextDouble() < DupShare) pick.nextInt(i) else i
        val r = rowRandom(seed, 4, src)
        val id = s"i$src"
        val vals = Array.fill(fields)(
          if (r.nextDouble() < MissingShare) null else vocab.value(r))
        w.write((s""""id":${jsonString(id)}""" +: vals.indices.collect {
          case j if vals(j) != null => s""""f${j + 1}":${jsonString(vals(j))}"""
        }).mkString("{", ",", "}"))
        w.newLine()
        val s = iri(s"${Ex}item/${encode(id)}")
        subjects.add(h64(s))
        set.addLine(s, RdfType, iri(s"${Ex}Item"))
        vals.indices.foreach { j =>
          if (!isNull(vals(j))) {
            val p = iri(s"${Ex}f${j + 1}")
            set.addLine(s, p, literal(vals(j)))
            if (p == targetPred) target.addLine(s, p, literal(vals(j)))
          }
        }
        i += 1
      }
    } finally w.close()
    val (n, h) = set.distinct()
    val (tn, th) = target.distinct()
    Generated(mapping(outDir),
      Expected(n, h, subjects.distinct()._1, Some(targetPath(outDir)), tn, th), Rows)
  }
}
