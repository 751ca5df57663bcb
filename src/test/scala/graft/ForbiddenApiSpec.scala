package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The lint for calls that cost a fixed tax per use on the metadata
  * path, over every Scala file of the main sources:
  *
  *  - a one-argument `ParquetFileReader.open(file)` and any
  *    `ParquetReader.builder(support, path)` build their read options
  *    from a fresh default Hadoop `Configuration`, which parses the
  *    `*-default.xml`/`*-site.xml` resources out of the jars again
  *    (~14 ms) and ignores the session's parquet settings;
  *  - a two-argument `FileSystem.listFiles(dir, recursive)` wraps each
  *    entry in a `LocatedFileStatus`, whose constructor copies the
  *    permissions: on a local filesystem without libhadoop that forks
  *    an `ls -ld` per listed file;
  *  - in `graft/sources`, a DataFrame parquet write (a `.write` whose
  *    call chain ends in `.parquet(...)`) that does not go through
  *    `SnapshotTable.writerFor`: Hadoop's own local filesystem forks a
  *    `chmod` for every file and directory the write makes.
  *
  * Comments and string literals are blanked before matching, and a
  * method definition of the same name (`def listFiles(...)`, as a
  * Spark `FileIndex` declares one) is not a call.
  */
class ForbiddenApiSpec extends AnyFunSuite {
  import ForbiddenApiSpec._

  test("the forbidden-call scanner finds each call shape and ignores comments and strings") {
    val src =
      """object X {
        |  // ParquetFileReader.open(in)
        |  /* ParquetReader.builder(s, p) /* nested */ fs.listFiles(p, true) */
        |  val s = "ParquetFileReader.open(in)"
        |  val ok = ParquetFileReader.open(in, opts(conf, p))
        |  val a = ParquetFileReader.open(
        |    HadoopInputFile.fromPath(p, conf))
        |  val b = org.apache.parquet.hadoop.ParquetReader.builder(s, p)
        |  val c = fs.listFiles(root, true)
        |  val d = SnapshotTable.listFiles(spark, t, 1L)
        |  val e = new java.io.File(x).listFiles()
        |  override def listFiles(p: Seq[E], d: Seq[E]) = Nil
        |  df.write.mode("overwrite")
        |    .partitionBy("s").parquet(dir)
        |  SnapshotTable.writerFor(df).mode("overwrite").parquet(dir)
        |  df.write.format(provider).save(); out.write(bytes); df.writeStream
        |}
        |""".stripMargin
    assert(violations(src).map(_._1) === Seq(6, 8, 9))
    assert(violations(src, inSources = true).map(_._1) === Seq(6, 8, 9, 13))
  }

  test("main sources make none of the forbidden calls") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    val sources = root.resolve("graft/sources")
    assert(Files.isDirectory(sources), s"no ${sources.toAbsolutePath}")
    val found = files.flatMap { f =>
      violations(new String(Files.readAllBytes(f), "UTF-8"), f.startsWith(sources))
        .map { case (line, what) => s"$f:$line: $what" }
    }
    assert(found.isEmpty, found.mkString("forbidden calls:\n", "\n", ""))
  }
}

object ForbiddenApiSpec {

  /** `(line, rule)` of every forbidden call in Scala source `src`;
    * `inSources` adds the rule for files of `graft/sources`.
    */
  def violations(src: String, inSources: Boolean = false): Seq[(Int, String)] = {
    val code = blankCommentsAndStrings(src)
    def lineOf(i: Int): Int = code.substring(0, i).count(_ == '\n') + 1
    def calls(name: String): Seq[(Int, Int)] =
      ("(?<!\\bdef\\s{1,16})\\b" + java.util.regex.Pattern.quote(name) + "\\s*\\(").r
        .findAllMatchIn(code).map(m => (m.start, argCount(code, m.end))).toSeq
    (calls("ParquetFileReader.open").collect {
      case (i, 1) => lineOf(i) -> "one-argument ParquetFileReader.open (default Configuration)"
    } ++ calls("ParquetReader.builder").map { case (i, _) =>
      lineOf(i) -> "ParquetReader.builder (default Configuration)"
    } ++ calls("listFiles").collect {
      case (i, 2) => lineOf(i) -> "FileSystem.listFiles (LocatedFileStatus: a process per file)"
    } ++ (if (!inSources) Nil else "\\.write\\b(?!\\s*\\()".r.findAllMatchIn(code)
      .filter(m => chainCalls(code, m.end).contains("parquet")).map { m =>
        lineOf(m.start) -> "parquet write not through SnapshotTable.writerFor (a chmod per file)"
      })).sortBy(_._1)
  }

  /** Names of the `.name` / `.name(...)` selections chained right after
    * `from`, across whitespace and line breaks.
    */
  private def chainCalls(code: String, from: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = from
    def skipBlank(): Unit = while (i < code.length && code(i).isWhitespace) i += 1
    skipBlank()
    while (i < code.length && code(i) == '.') {
      i += 1
      val start = i
      while (i < code.length && code(i).isLetterOrDigit) i += 1
      out += code.substring(start, i)
      skipBlank()
      if (i < code.length && code(i) == '(') {
        var depth = 0
        while (i < code.length && { code(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }; i += 1; depth > 0 }) ()
        skipBlank()
      }
    }
    out.result()
  }

  /** Top-level arguments of the call whose `(` ends just before `from`. */
  private def argCount(code: String, from: Int): Int = {
    var depth = 0
    var commas = 0
    var nonBlank = false
    var i = from
    while (i < code.length && depth >= 0) {
      code(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => commas += 1
        case _ =>
      }
      if (depth >= 0 && !code(i).isWhitespace) nonBlank = true
      i += 1
    }
    if (nonBlank) commas + 1 else 0
  }

  /** `src` with every comment (nested block comments included) and
    * string or character literal replaced by spaces, line breaks kept
    * so offsets still map to the same lines.
    */
  def blankCommentsAndStrings(src: String): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, to: Int): Unit =
      (from until math.min(to, src.length)).foreach { k =>
        if (src(k) != '\n') out.setCharAt(k, ' ')
      }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val end = if (e < 0) src.length else e
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        while (j < src.length && {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
          depth > 0
        }) ()
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        val end = if (e < 0) src.length else e + 3
        blank(i, end); i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        blank(i, j + 1); i = j + 1
      } else if (src(i) == '\'' && i + 3 < src.length && src(i + 1) == '\\') {
        val e = src.indexOf('\'', i + 3)
        val end = if (e < 0) src.length else e + 1
        blank(i, end); i = end
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        blank(i, i + 3); i += 3
      } else i += 1
    }
    out.toString
  }
}
