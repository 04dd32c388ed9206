package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Everything the engine receives is built here
  * from `--seed`: the same seed gives byte-identical manuals, questions
  * and edit batches. */
object Gen {

  private val Nouns = Array(
    "pump", "valve", "sensor", "controller", "filter", "bearing", "motor", "panel",
    "display", "cable", "connector", "housing", "gasket", "relay", "switch", "fuse",
    "battery", "charger", "inverter", "circuit", "fan", "compressor", "condenser",
    "thermostat", "regulator", "actuator", "encoder", "gearbox", "shaft", "coupling",
    "bracket", "mount", "frame", "cover", "lid", "door", "hinge", "latch", "spring",
    "nozzle", "hose", "pipe", "tank", "reservoir", "chamber", "manifold", "diaphragm",
    "piston", "cylinder", "seal", "ring", "screw", "bolt", "nut", "washer", "clamp",
    "terminal", "module", "board", "firmware", "interface", "menu", "button", "indicator",
    "alarm", "timer", "schedule", "profile", "setting", "parameter", "threshold",
    "pressure", "temperature", "voltage", "current", "flow", "level", "speed", "torque",
    "cycle", "mode", "program", "sequence", "procedure", "operator", "technician",
    "warranty", "service", "inspection", "calibration", "lubricant", "coolant", "fluid",
    "outlet", "inlet", "drain", "vent", "duct", "grille", "blade", "rotor", "stator")
  private val Verbs = Array(
    "connects", "controls", "measures", "regulates", "protects", "supports", "drives",
    "monitors", "adjusts", "limits", "reports", "feeds", "cools", "heats", "seals",
    "locks", "releases", "holds", "guides", "detects", "records", "resets", "starts",
    "stops", "checks", "cleans", "replaces", "secures", "aligns", "balances")
  private val Adjs = Array(
    "main", "auxiliary", "upper", "lower", "left", "right", "front", "rear", "inner",
    "outer", "primary", "secondary", "optional", "standard", "heavy", "light", "quiet",
    "fast", "slow", "digital", "analog", "thermal", "electric", "hydraulic",
    "pneumatic", "mechanical", "sealed", "removable", "adjustable", "fixed")
  private val Topics = Array(
    "Installation", "Safety", "Maintenance", "Troubleshooting", "Specifications",
    "Operation", "Cleaning", "Storage", "Calibration", "Wiring", "Assembly",
    "Inspection", "Replacement", "Settings", "Diagnostics", "Transport")

  private def pick[T](r: Random, xs: Array[T]): T = xs(r.nextInt(xs.length))

  /** One English-looking sentence: enough stopwords for the language
    * and quality gates, enough content words that unrelated sections
    * share few word 3-shingles. */
  def sentence(r: Random, product: String): String = {
    val w = ArrayBuffer[String]()
    w += "The"; w += pick(r, Adjs); w += pick(r, Nouns); w += pick(r, Verbs)
    w += "the"; w += pick(r, Nouns); w += "of"; w += "the"; w += pick(r, Adjs); w += pick(r, Nouns)
    r.nextInt(4) match {
      case 0 => w ++= Seq("and", "it", pick(r, Verbs), "the", pick(r, Nouns))
      case 1 => w ++= Seq("for", "the", product, pick(r, Nouns), "in", pick(r, Adjs), "mode")
      case 2 => w ++= Seq("that", "is", pick(r, Adjs), "to", "the", pick(r, Nouns))
      case _ => w ++= Seq("in", "a", pick(r, Adjs), pick(r, Nouns), "and", "a", pick(r, Nouns))
    }
    w.mkString(" ") + "."
  }

  def paragraph(r: Random, product: String, nSent: Int): String =
    (0 until nSent).map(_ => sentence(r, product)).mkString(" ")

  /** Replace `n` words of `text` with random vocabulary: a near-duplicate
    * whose word 3-shingle Jaccard with the original stays high. */
  def lightEdit(r: Random, text: String, n: Int): String = {
    val toks = text.split(" ")
    (0 until n).foreach { _ =>
      val i = r.nextInt(toks.length)
      toks(i) = pick(r, Nouns)
    }
    toks.mkString(" ")
  }

  // ---------------------------------------------------------------- manuals

  /** A body block of a manual section. Captions are ordinary paragraphs
    * of the section; tables and images carry no section text. */
  sealed trait Item
  final case class Para(text: String) extends Item
  final case class Table(rows: Seq[Seq[String]]) extends Item
  case object Image extends Item

  final case class Section(title: String, level: Int, items: Seq[Item]) {
    /** The text the sectionizer yields: non-empty paragraphs joined by " ". */
    def body: String = items.collect { case Para(t) => t }.mkString(" ")
  }

  /** `file` is the `.docx` name the reader reports as `doc_id`. */
  final case class Manual(file: String, product: String, version: Int, sections: Seq[Section])

  final case class Corpus(
      manuals: Seq[Manual],
      /** curated doc ids (`file#sec_id`) planted as exact or light-edit
        * copies of an earlier version's section */
      planted: Set[String])

  /** `sec_id` as the sectionizer numbers it (running heading count). */
  def docId(file: String, secOrdinal: Int): String = f"$file#$secOrdinal%04d"

  private def freshSection(r: Random, product: String, captions: Boolean, figNo: Int): Section = {
    val title = s"${pick(r, Topics)} of the ${pick(r, Adjs)} ${pick(r, Nouns)}"
    val items = ArrayBuffer[Item]()
    // 4-7 paragraphs of 3-5 sentences: ~1.8-4.5 k chars, so the 700/200
    // chunker splits every section
    (0 until 4 + r.nextInt(4)).foreach(_ => items += Para(paragraph(r, product, 3 + r.nextInt(3))))
    if (captions) {
      if (r.nextBoolean()) {
        items += Image
        items += Para(s"Figure $figNo: the ${pick(r, Adjs)} ${pick(r, Nouns)} of the $product")
      } else {
        items += Para(s"Table $figNo: ${pick(r, Nouns)} ${pick(r, Nouns)} limits")
        items += Table(Seq(Seq("Parameter", "Value"),
          Seq(pick(r, Nouns), (10 + r.nextInt(90)).toString),
          Seq(pick(r, Nouns), (10 + r.nextInt(90)).toString)))
      }
    }
    Section(title, 1 + r.nextInt(2), items.toSeq)
  }

  /** `products` × `versions` manuals of `sections` sections each. Every
    * later version keeps ~60% of the previous version's sections
    * verbatim, lightly edits ~20%, rewrites the rest and appends two new
    * ones: the cross-version duplication the curation stage removes. */
  def corpus(seed: Long, products: Int, versions: Int, sections: Int): Corpus = {
    val r = new Random(seed)
    val manuals = ArrayBuffer[Manual]()
    val planted = Set.newBuilder[String]
    (0 until products).foreach { p =>
      val product = s"unit${(p + 10).toString}x"
      var prev: Seq[Section] = Nil
      (1 to versions).foreach { v =>
        val file = f"p$p%02d_v$v%02d.docx"
        val secs = ArrayBuffer[Section]()
        if (prev.isEmpty)
          (0 until sections).foreach(i => secs += freshSection(r, product, i % 3 == 0, i + 1))
        else {
          prev.foreach { s =>
            val u = r.nextDouble()
            if (u < 0.6) {
              secs += s; planted += docId(file, secs.size)
            } else if (u < 0.8) {
              secs += s.copy(items = s.items.map {
                case Para(t) if t.length > 200 => Para(lightEdit(r, t, 2))
                case other => other
              })
              planted += docId(file, secs.size)
            } else secs += freshSection(r, product, false, secs.size + 1)
          }
          (0 until 2).foreach(_ => secs += freshSection(r, product, true, secs.size + 1))
        }
        manuals += Manual(file, product, v, secs.toSeq)
        prev = secs.toSeq
      }
    }
    Corpus(manuals.toSeq, planted.result())
  }

  /** Plain (doc_id, text) sections for the index workloads. */
  def sectionTexts(seed: Long, n: Int): Seq[(String, String)] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val s = freshSection(r, s"unit${10 + i % 7}x", false, 0)
      (f"s$i%06d", s.body)
    }
  }

  // ------------------------------------------------------------ docx writer

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
  private val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Default Extension="png" ContentType="image/png"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |<Override PartName="/word/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.styles+xml"/>
      |</Types>""".stripMargin

  private val PackageRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>""".stripMargin

  private val DocumentRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
      |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="media/image1.png"/>
      |</Relationships>""".stripMargin

  // Word stores the built-in heading styles under lowercase names; the
  // reader maps them to the "Heading N" aliases python-docx reports
  private val Styles =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<w:styles xmlns:w="$W">
       |<w:style w:type="paragraph" w:default="1" w:styleId="Normal"><w:name w:val="Normal"/></w:style>
       |<w:style w:type="paragraph" w:styleId="Title"><w:name w:val="Title"/></w:style>
       |<w:style w:type="paragraph" w:styleId="Heading1"><w:name w:val="heading 1"/></w:style>
       |<w:style w:type="paragraph" w:styleId="Heading2"><w:name w:val="heading 2"/></w:style>
       |<w:style w:type="paragraph" w:styleId="Caption"><w:name w:val="Caption"/></w:style>
       |</w:styles>""".stripMargin

  /** A 1×1 transparent PNG. */
  private val Png: Array[Byte] = java.util.Base64.getDecoder.decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")

  private def para(style: String, text: String): String = {
    val ppr = if (style.isEmpty) "" else s"""<w:pPr><w:pStyle w:val="$style"/></w:pPr>"""
    s"""<w:p>$ppr<w:r><w:t xml:space="preserve">${esc(text)}</w:t></w:r></w:p>"""
  }

  private val ImagePara =
    """<w:p><w:r><w:drawing><wp:inline><a:graphic><a:graphicData><pic:pic><pic:blipFill>""" +
      """<a:blip r:embed="rId2"/></pic:blipFill></pic:pic></a:graphicData></a:graphic>""" +
      """</wp:inline></w:drawing></w:r></w:p>"""

  private def table(rows: Seq[Seq[String]]): String =
    rows.map(row => row.map(c =>
      s"""<w:tc><w:p><w:r><w:t>${esc(c)}</w:t></w:r></w:p></w:tc>""").mkString("<w:tr>", "", "</w:tr>"))
      .mkString("<w:tbl>", "", "</w:tbl>")

  def documentXml(m: Manual): String = {
    val body = new StringBuilder
    // text before the first heading belongs to no section
    body ++= para("Title", s"${m.product} user manual, version ${m.version}")
    m.sections.foreach { s =>
      body ++= para(s"Heading${s.level}", s.title)
      s.items.foreach {
        case Para(t) if t.startsWith("Figure") || t.startsWith("Table") =>
          body ++= para("Caption", t)
        case Para(t) => body ++= para("", t)
        case Table(rows) => body ++= table(rows)
        case Image => body ++= ImagePara
      }
    }
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<w:document xmlns:w="$W" xmlns:r="$R"
       | xmlns:wp="http://schemas.openxmlformats.org/drawingml/2006/wordprocessingDrawing"
       | xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"
       | xmlns:pic="http://schemas.openxmlformats.org/drawingml/2006/picture">
       |<w:body>$body</w:body></w:document>""".stripMargin
  }

  def docxBytes(m: Manual): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def put(name: String, bytes: Array[Byte]): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(bytes); zip.closeEntry()
    }
    put("[Content_Types].xml", ContentTypes.getBytes(UTF_8))
    put("_rels/.rels", PackageRels.getBytes(UTF_8))
    put("word/document.xml", documentXml(m).getBytes(UTF_8))
    put("word/styles.xml", Styles.getBytes(UTF_8))
    put("word/_rels/document.xml.rels", DocumentRels.getBytes(UTF_8))
    put("word/media/image1.png", Png)
    zip.close()
    bos.toByteArray
  }

  def writeDocx(dir: File, c: Corpus): Unit = {
    dir.mkdirs()
    c.manuals.foreach { m =>
      val out = new FileOutputStream(new File(dir, m.file))
      try out.write(docxBytes(m)) finally out.close()
    }
  }

  // -------------------------------------------------------------- questions

  /** A question: a perturbed window of a known indexed chunk. */
  final case class Question(text: String, sourceId: String, path: String)

  /** Questions over `chunks` (id, chunk_text): `nExact` exact top-5,
    * `nIvf` IVF + int8 re-rank and `nHybrid` hybrid BM25 + vector RRF, at
    * seeded positions, so every seed asks the same mix. Each is a 300-char
    * window of its source chunk with ~8% of its words replaced. */
  def questions(seed: Long, chunks: IndexedSeq[(String, String)], nExact: Int,
      nIvf: Int, nHybrid: Int): IndexedSeq[Question] = {
    val r = new Random(seed ^ 0x5eed)
    val paths = r.shuffle(Seq.fill(nHybrid)("hybrid") ++ Seq.fill(nIvf)("ivf") ++
      Seq.fill(nExact)("exact"))
    paths.toIndexedSeq.map { path =>
      val (id, text) = chunks(r.nextInt(chunks.length))
      val len = math.min(300, text.length)
      val start = if (text.length > len) r.nextInt(text.length - len + 1) else 0
      val toks = text.substring(start, start + len).split(" ")
      val nEdit = math.max(1, toks.length / 12)
      (0 until nEdit).foreach(_ => toks(r.nextInt(toks.length)) = pick(r, Nouns))
      Question(toks.mkString(" "), id, path)
    }
  }

  // ------------------------------------------------------------ edit stream

  /** One corpus edit: `text == null` deletes `docId`. */
  final case class Edit(docId: String, text: String)

  /** A seeded stream of edit batches over a keyed corpus. It tracks the
    * live key set, so updates and deletes always name live docs and
    * inserts new ones; each batch has distinct keys. */
  final class EditStream(seed: Long, initial: Seq[(String, String)]) {
    private val r = new Random(seed ^ 0xed17)
    private val live = ArrayBuffer.from(initial.map(_._1))
    private val text = scala.collection.mutable.HashMap.from(initial)
    private var nextId = 0

    def current: Map[String, String] = text.toMap

    def next(updates: Int, inserts: Int, deletes: Int): Seq[Edit] = {
      val chosen = scala.collection.mutable.LinkedHashSet[String]()
      while (chosen.size < updates + deletes) chosen += live(r.nextInt(live.length))
      val (up, del) = chosen.toSeq.splitAt(updates)
      val edits = ArrayBuffer[Edit]()
      up.foreach { k =>
        val t = if (r.nextBoolean()) lightEdit(r, text(k), 3)
                else paragraph(r, "unit99x", 12 + r.nextInt(10))
        text(k) = t; edits += Edit(k, t)
      }
      del.foreach { k => text.remove(k); live -= k; edits += Edit(k, null) }
      (0 until inserts).foreach { _ =>
        val k = f"n$nextId%06d"; nextId += 1
        val t = paragraph(r, "unit98x", 12 + r.nextInt(10))
        text(k) = t; live += k; edits += Edit(k, t)
      }
      edits.toSeq
    }
  }
}
