package whistlerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded input generators. Every input is a pure function of the seed and
 *  the declared size: the generators read no file, and they write plain
 *  text with java.nio, so the same seed gives byte-identical inputs. */
object Gen {

  def writeText(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, content.getBytes(UTF_8))
  }

  /** A TPC-H-shaped whistler study: `customer` rows are the participants
   *  (with enumerated columns), `orders` embed into them, and `lineitem`
   *  is a grouped table with an aggregator pivot split over several
   *  files. Each table has a data dictionary; one harmony file maps every
   *  enumerated column. Row counts are fixed by the size; the seed moves
   *  values and the order-to-participant assignment. */
  final case class StudySize(participants: Int, orders: Int, lineitems: Int, lineFiles: Int)

  final case class Study(
      dir: Path, configJson: String, size: StudySize,
      /** participants that have at least one line item (one grouped row each) */
      lineSubjects: Int)

  val StudyId = "BENCH"
  val IdentifierPrefix = "https://bench.example.org"

  private val Sexes = Seq("M" -> "Male", "F" -> "Female")
  private val Races = Seq("W" -> "White", "B" -> "Black or African American",
    "A" -> "Asian", "N" -> "American Indian or Alaska Native", "O" -> "Other")
  private val Ethnicities = Seq("H" -> "Hispanic or Latino",
    "N" -> "Not Hispanic or Latino", "U" -> "Unknown")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    .map(s => s -> s.toLowerCase.capitalize)
  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
    "RUSSIA", "UNITED KINGDOM", "UNITED STATES").zipWithIndex
    .map { case (n, i) => f"N$i%02d" -> n.toLowerCase.capitalize }
  private val OrderStatus = Seq("F" -> "Fulfilled", "O" -> "Open", "P" -> "Partial")
  private val Priorities = Seq("1" -> "Urgent", "2" -> "High", "3" -> "Medium",
    "4" -> "Not specified", "5" -> "Low")
  private val ReturnFlags = Seq("A" -> "Accepted", "N" -> "None", "R" -> "Returned")
  private val ShipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
    .zipWithIndex.map { case (m, i) => s"SM$i" -> m.toLowerCase.capitalize }

  /** (table, varname, header, enumeration) for every enumerated column —
   *  the harmony file maps each of them. */
  private val Enumerated: Seq[(String, String, String, Seq[(String, String)])] = Seq(
    ("customer", "sex", "Sex", Sexes),
    ("customer", "race", "Race", Races),
    ("customer", "ethnicity", "Ethnicity", Ethnicities),
    ("customer", "market_segment", "Market Segment", Segments),
    ("customer", "nation", "Nation", Nations),
    ("orders", "order_status", "Order Status", OrderStatus),
    ("orders", "order_priority", "Order Priority", Priorities),
    ("lineitem", "return_flag", "Return Flag", ReturnFlags),
    ("lineitem", "ship_mode", "Ship Mode", ShipModes))

  /** Participants' race/ethnicity/sex also carry the code systems the
   *  Patient projection harmonizes against. */
  private val PatientSystems = Map("sex" -> "Sex", "race" -> "Race", "ethnicity" -> "Ethnicity")

  private def enumCell(e: Seq[(String, String)]): String =
    e.map { case (c, d) => s"$c=$d" }.mkString(";")

  private def ddCsv(rows: Seq[(String, String, String, String)]): String =
    ("variable_name,description,data_type,enumerations" +:
      rows.map { case (v, d, t, e) => s"$v,$d,$t,$e" }).mkString("", "\n", "\n")

  private def enumsOf(table: String, header: String): String =
    enumCell(Enumerated.find(e => e._1 == table && e._3 == header).get._4)

  def writeStudy(dir: Path, seed: Long, size: StudySize): Study = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def pid(i: Int) = f"P$i%06d"

    val customer = new StringBuilder(
      "Participant Id,Sex,Race,Ethnicity,Market Segment,Nation,Account Balance,Age\n")
    for (i <- 0 until size.participants)
      customer ++= s"${pid(i)},${pick(Sexes)._1},${pick(Races)._1},${pick(Ethnicities)._1}," +
        f"${pick(Segments)._1},${pick(Nations)._1},${rnd.nextInt(1099999) / 100.0 - 999.99}%.2f," +
        s"${18 + rnd.nextInt(70)}\n"

    // every order belongs to a random participant; some get none
    val orderOwner = Array.fill(size.orders)(rnd.nextInt(size.participants))
    val orders = new StringBuilder(
      "Participant Id,Order Id,Order Status,Order Priority,Total Price,Order Date\n")
    for (o <- 0 until size.orders)
      orders ++= s"${pid(orderOwner(o))},O$o,${pick(OrderStatus)._1},${pick(Priorities)._1}," +
        f"${rnd.nextInt(50000000) / 100.0}%.2f,199${rnd.nextInt(8)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}\n"

    val lineHeader = "Participant Id,Order Id,Line Number,Return Flag,Ship Mode," +
      "LI_quantity,LI_extendedprice,LI_discount,LI_tax\n"
    val lineParts = Array.fill(size.lineFiles)(new StringBuilder(lineHeader))
    val lineOwners = scala.collection.mutable.BitSet.empty
    for (l <- 0 until size.lineitems) {
      val o = rnd.nextInt(size.orders)
      lineOwners += orderOwner(o)
      lineParts(l * size.lineFiles / size.lineitems) ++=
        s"${pid(orderOwner(o))},O$o,${l % 7 + 1},${pick(ReturnFlags)._1},${pick(ShipModes)._1}," +
        f"${1 + rnd.nextInt(50)},${rnd.nextInt(10000000) / 100.0}%.2f," +
        f"0.0${rnd.nextInt(10)},0.0${rnd.nextInt(9)}\n"
    }

    writeText(dir.resolve("customer.csv"), customer.toString)
    writeText(dir.resolve("orders.csv"), orders.toString)
    val lineFiles = lineParts.indices.map(i => s"lineitem_part$i.csv")
    lineFiles.zip(lineParts).foreach { case (f, sb) => writeText(dir.resolve(f), sb.toString) }

    writeText(dir.resolve("customer_dd.csv"), ddCsv(Seq(
      ("Participant Id", "Participant identifier", "string", ""),
      ("Sex", "Biological sex", "enumeration", enumsOf("customer", "Sex")),
      ("Race", "Self-reported race", "enumeration", enumsOf("customer", "Race")),
      ("Ethnicity", "Self-reported ethnicity", "enumeration", enumsOf("customer", "Ethnicity")),
      ("Market Segment", "Market segment", "enumeration", enumsOf("customer", "Market Segment")),
      ("Nation", "Nation of residence", "enumeration", enumsOf("customer", "Nation")),
      ("Account Balance", "Account balance", "number", ""),
      ("Age", "Age at enrollment", "integer", ""))))
    writeText(dir.resolve("orders_dd.csv"), ddCsv(Seq(
      ("Participant Id", "Participant identifier", "string", ""),
      ("Order Id", "Order identifier", "string", ""),
      ("Order Status", "Order status", "enumeration", enumsOf("orders", "Order Status")),
      ("Order Priority", "Order priority", "enumeration", enumsOf("orders", "Order Priority")),
      ("Total Price", "Order total", "number", ""),
      ("Order Date", "Order date", "string", ""))))
    writeText(dir.resolve("lineitem_dd.csv"), ddCsv(Seq(
      ("Participant Id", "Participant identifier", "string", ""),
      ("Order Id", "Order identifier", "string", ""),
      ("Line Number", "Line number", "integer", ""),
      ("Return Flag", "Return flag", "enumeration", enumsOf("lineitem", "Return Flag")),
      ("Ship Mode", "Ship mode", "enumeration", enumsOf("lineitem", "Ship Mode")),
      ("measures", "Line Measures", "string", ""))))

    val harmony = new StringBuilder(
      "local code,text,table_name,parent_varname,local code system,code,display,code system\n")
    for ((table, varname, _, codes) <- Enumerated; (code, display) <- codes) {
      harmony ++= s"$code,$display,$table,$varname,$varname,${code.toLowerCase}," +
        s"$display,https://bench.example.org/cs/$varname\n"
      PatientSystems.get(varname).foreach { sys =>
        harmony ++= s"$code,$display,$table,$varname,$sys,${code.toLowerCase}," +
          s"$display,http://hl7.org/fhir/$varname\n"
      }
    }
    writeText(dir.resolve("harmony.csv"), harmony.toString)

    val configJson =
      s"""{"study_id":"$StudyId","identifier_prefix":"$IdentifierPrefix","dataset":{
         |"customer":{"filename":"customer.csv",
         |  "data_dictionary":{"filename":"customer_dd.csv"},
         |  "code_harmonization":"harmony.csv"},
         |"orders":{"filename":"orders.csv",
         |  "data_dictionary":{"filename":"orders_dd.csv"},
         |  "embed":{"dataset":"customer","colname":"Participant Id"}},
         |"lineitem":{"filename":"${lineFiles.mkString(",")}",
         |  "data_dictionary":{"filename":"lineitem_dd.csv"},
         |  "group_by":"Participant Id",
         |  "aggregators":{"Line Measures":"^li_"},
         |  "aggregator-splitter":"_"}
         |}}""".stripMargin
    writeText(dir.resolve("study.json"), configJson)
    Study(dir, configJson, size, lineOwners.size)
  }

  /** DD-metadata resources per (module, resourceType) for the study's
   *  fixed data dictionaries and harmony file. */
  def ddMetaCounts: Map[(String, String), Long] = {
    val (tables, variables, enums) = (3L, 20L, Enumerated.length.toLong)
    Map(
      ("ddmeta", "CodeSystem") -> (enums + tables), // one per enumeration, one per table
      ("ddmeta", "ValueSet") -> (enums + tables),
      ("ddmeta", "ObservationDefinition") -> variables,
      ("ddmeta", "ActivityDefinition") -> tables,
      ("harmony", "ConceptMap") -> 1L, // one harmony file: sources + targets VS
      ("harmony", "ValueSet") -> 2L)
  }

  /** The curation arrival stream: a priming batch plus `batches` batches
   *  of `batchDocs` documents each. From the second arriving batch on,
   *  each batch holds declared shares of exact re-arrivals (a new id with
   *  an earlier original's text), near-duplicate re-arrivals (an earlier
   *  original's text plus one appended word) and planted eval documents
   *  (an eval document's text verbatim); the rest are fresh originals.
   *  Every id is unique across the stream. */
  final case class StreamSize(batchDocs: Int, batches: Int, evalDocs: Int,
      exactShare: Double, nearShare: Double, evalShare: Double)

  sealed trait Kind
  case object Original extends Kind
  case object ExactDup extends Kind
  case object NearDup extends Kind
  case object EvalPlant extends Kind

  final case class Doc(id: Long, text: String, kind: Kind)

  final case class Stream(eval: Seq[Doc], prime: Seq[Doc], batches: Seq[Seq[Doc]]) {
    def all: Seq[Doc] = prime ++ batches.flatten
  }

  /** A seeded Zipf-ish vocabulary: word i is drawn with weight ~ 1/(i+1). */
  private final class Words(rnd: Random, size: Int) {
    private val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab: Array[String] = Array.fill(size)(
      Iterator.fill(3 + rnd.nextInt(7))(letters(rnd.nextInt(26))).mkString)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
    def text(minWords: Int, maxWords: Int): String = {
      val n = minWords + rnd.nextInt(maxWords - minWords + 1)
      val sb = new StringBuilder
      for (i <- 0 until n) {
        if (i > 0) sb += ' '
        sb ++= word()
        if (i % 12 == 11) sb += '.'
      }
      sb.toString
    }
  }

  def stream(seed: Long, size: StreamSize): Stream = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    val words = new Words(rnd, 6000)
    var nextId = 1000L
    def id(): Long = { nextId += 1 + rnd.nextInt(3); nextId }
    def fresh(): Doc = Doc(id(), words.text(60, 160), Original)
    val eval = Seq.fill(size.evalDocs)(Doc(id(), words.text(60, 160), Original))
    val prime = Seq.fill(size.batchDocs)(fresh())
    val originals = scala.collection.mutable.ArrayBuffer.from(prime)
    val nExact = math.round(size.batchDocs * size.exactShare).toInt
    val nNear = math.round(size.batchDocs * size.nearShare).toInt
    val nEval = math.round(size.batchDocs * size.evalShare).toInt
    val batches = (0 until size.batches).map { _ =>
      val earlier = originals.toIndexedSeq
      val exact = Seq.fill(nExact)(Doc(id(), earlier(rnd.nextInt(earlier.length)).text, ExactDup))
      val near = Seq.fill(nNear)(
        Doc(id(), earlier(rnd.nextInt(earlier.length)).text + " " + words.word(), NearDup))
      val planted = Seq.fill(nEval)(Doc(id(), eval(rnd.nextInt(eval.length)).text, EvalPlant))
      val news = Seq.fill(size.batchDocs - nExact - nNear - nEval)(fresh())
      originals ++= news
      rnd.shuffle(exact ++ near ++ planted ++ news)
    }
    Stream(eval, prime, batches)
  }

  /** One JSON-lines file per batch (doc_id, text): the arrival format. */
  def writeStream(dir: Path, s: Stream): Unit = {
    def jsonl(docs: Seq[Doc]): String =
      docs.map(d => s"""{"doc_id":${d.id},"text":${Json.str(d.text)}}""").mkString("", "\n", "\n")
    writeText(dir.resolve("eval.jsonl"), jsonl(s.eval))
    writeText(dir.resolve("batch-prime.jsonl"), jsonl(s.prime))
    s.batches.zipWithIndex.foreach { case (b, i) =>
      writeText(dir.resolve(f"batch-$i%03d.jsonl"), jsonl(b))
    }
  }
}
