package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.zip.{DeflaterOutputStream, ZipEntry, ZipOutputStream}

import scala.util.Random

/** Seeded document corpora. Every byte of every generated file is a function
  * of the seed and the file's index, so one seed gives byte-identical inputs
  * on any JVM, and the engine under test receives nothing but these files.
  *
  * The DOCX and PDF writers are kept here, not borrowed from the engine's
  * fixture code, so the inputs do not change when that code does. */
object Corpus {

  val Vocab: Array[String] = Array(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "anchor", "beacon", "cipher", "dynamo", "ember",
    "falcon", "granite", "harbor", "ivory", "jungle", "kernel", "lantern",
    "meadow", "nebula", "orchid", "prism", "quartz", "ridge", "summit",
    "thicket", "umbra", "vertex", "willow", "zenith", "acorn", "basalt",
    "canyon", "drift", "estuary", "fjord", "glacier", "heron", "isthmus",
    "jasper", "kestrel", "lagoon", "mesa", "nimbus", "obsidian", "plateau",
    "quill", "reef", "savanna", "tundra", "upland", "valley", "wharf",
    "yarrow", "zephyr", "almanac", "ballast", "cobalt", "dune", "ferrous")

  /** one generated file: path relative to the corpus root, and its bytes */
  final case class GenFile(rel: String, bytes: Array[Byte]) {
    def ext: String = rel.substring(rel.lastIndexOf('.') + 1)
  }

  private def rng(seed: Long, stream: Long, id: Long): Random =
    new Random(seed * 1000003L + stream * 7919L + id * 2654435761L)

  def sentence(r: Random): String = {
    val ws = Array.fill(6 + r.nextInt(12))(Vocab(r.nextInt(Vocab.length)))
    ws(0) = ws(0).capitalize
    ws.mkString(" ") + "."
  }

  def lines(r: Random, n: Int): Seq[String] = Seq.fill(n)(sentence(r))

  /** mixed-format small document `id`: the 70/20/6/4 txt/md/docx/pdf
    * rotation on `id % 100`, 8 to 27 one-sentence lines. `head` lines go
    * first (the sync_churn revision marker). */
  def mixedFile(seed: Long, id: Int, head: Seq[String] = Nil): GenFile = {
    val r = rng(seed, 1, id)
    val ls = head ++ lines(r, 8 + r.nextInt(20))
    val dir = f"docs/d${id / 100}%03d/"
    (id % 100) match {
      case m if m < 70 => GenFile(f"${dir}f$id%05d.txt", ls.mkString("\n").getBytes(UTF_8))
      case m if m < 90 => GenFile(f"${dir}f$id%05d.md",
        (s"# Note $id\n\n" + ls.mkString("\n\n")).getBytes(UTF_8))
      case m if m < 96 => GenFile(f"${dir}f$id%05d.docx", docx(ls))
      case _ => GenFile(f"${dir}f$id%05d.pdf", pdf(ls))
    }
  }

  /** one long plain-text document of `sentences` sentences in paragraphs */
  def longFile(seed: Long, id: Int, sentences: Int, dir: String): GenFile = {
    val r = rng(seed, 2, id)
    val text = lines(r, sentences).grouped(6).map(_.mkString(" ")).mkString("\n\n")
    GenFile(f"$dir/long$id%04d.txt", text.getBytes(UTF_8))
  }

  def write(root: Path, files: Seq[GenFile]): Unit = files.foreach { f =>
    val p = root.resolve(f.rel)
    Files.createDirectories(p.getParent)
    Files.write(p, f.bytes)
  }

  /** order-independent sha-256 over (relative path, bytes) of a tree */
  def digest(root: Path): String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => root.relativize(p).toString).sorted.foreach { rel =>
        md.update(rel.getBytes(UTF_8)); md.update(0.toByte)
        md.update(Files.readAllBytes(root.resolve(rel)))
      }
    finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  private val ZipTime = 1577836800000L // fixed entry stamp: 2020-01-01 UTC

  /** minimal WordprocessingML package: one paragraph per line */
  def docx(ls: Seq[String]): Array[Byte] = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val body = ls.map(l => s"<w:p><w:r><w:t>${esc(l)}</w:t></w:r></w:p>").mkString
    val xml = """<?xml version="1.0" encoding="UTF-8"?><w:document """ +
      """xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      s"<w:body>$body</w:body></w:document>"
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    val e = new ZipEntry("word/document.xml")
    e.setTime(ZipTime)
    zip.putNextEntry(e)
    zip.write(xml.getBytes(UTF_8))
    zip.closeEntry()
    zip.close()
    bos.toByteArray
  }

  /** single-page PDF whose Flate content stream shows each line as a
    * UTF-16BE hex string */
  def pdf(ls: Seq[String]): Array[Byte] = {
    val shows = ls.zipWithIndex.map { case (l, i) =>
      val hex = ("\uFEFF" + l).map(c => f"${c.toInt}%04X").mkString
      s"1 0 0 1 72 ${760 - 14 * i} Tm <$hex> Tj"
    }.mkString(" ")
    val raw = s"BT /F1 12 Tf $shows ET".getBytes(ISO_8859_1)
    val z = new ByteArrayOutputStream()
    val out = new DeflaterOutputStream(z)
    out.write(raw); out.close()
    val n = z.size()
    val data = new String(z.toByteArray, ISO_8859_1)
    def obj(num: Int, body: String) = s"$num 0 obj\n$body\nendobj\n"
    ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
      s"4 0 obj\n<< /Length $n /Filter /FlateDecode >>\nstream\n$data\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
  }
}
