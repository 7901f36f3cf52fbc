package graft

import org.scalacheck.Gen

/** Generators of JSON wire lines for the ingest-kernel properties: lines
  * shaped like the benchmark's LogRecords, arbitrary standard-JSON objects
  * over a key pool that hits the promoted and dropped keys (repeats, nested
  * repeats, escaped key spellings), `created` in every JSON type, content
  * after the closing brace, other top levels, and truncations of all of it.
  */
object WireLines {

  private val Promoted = Seq("created", "message", "correlation_id")
  private val Dropped = Seq("stack_info", "funcName", "msecs", "module", "thread",
    "threadName", "processName")
  private val Others = Seq("name", "levelno", "a", "b", "k", "seq", "detail")

  /** Characters a string may hold; lone surrogates only ever escaped. */
  private val charGen: Gen[String] = Gen.frequency(
    20 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.const(" "),
    1 -> Gen.oneOf("\"", "\\", "/", "\n", "\t", "\u0000", "\u001f"),
    2 -> Gen.oneOf("é", "中", "😀", "Ä", "İ"),
    1 -> Gen.const("\uD800"))

  /** JSON string-body escaping; non-ASCII escaped when `asciiOnly` (as
    * Python's json.dumps does), a lone surrogate always. */
  private def escape(s: String, asciiOnly: Boolean): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val paired = Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))
      c match {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case _ if c < ' ' || (asciiOnly && c > '~') || (Character.isSurrogate(c) && !paired) =>
          b ++= f"\\u${c.toInt}%04x"
        case _ if paired =>
          b += c
          b += s.charAt(i + 1)
          i += 1
        case _ => b += c
      }
      i += 1
    }
    b.toString
  }

  val jsonString: Gen[String] = for {
    n <- Gen.choose(0, 12)
    cs <- Gen.listOfN(n, charGen)
    ascii <- Gen.oneOf(true, false)
    slash <- Gen.oneOf(false, false, true)
  } yield {
    // a lone high surrogate is only written as an escape; a raw one
    // cannot travel in UTF-8
    val text = "\"" + escape(cs.mkString, ascii) + "\""
    if (slash) text.replace("/", "\\/") else text
  }

  val jsonNumber: Gen[String] = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.choose(-1e12, 1e12).map(_.toString),
    Gen.choose(0, 1e6).map(d => f"$d%.3f"),
    Gen.oneOf("0", "-0", "-0.0", "2.50", "1.0E2", "1e-7", "1E5", "1e400", "-1e400",
      "123456789012345678901234567890", "12345678901234567890.5", "9.3e18", "-1e20",
      "1554635562.8368905", "1767443485.511", "0.1e1"))

  private def value(depth: Int): Gen[String] =
    if (depth <= 0) Gen.frequency(4 -> jsonString, 4 -> jsonNumber,
      1 -> Gen.oneOf("true", "false", "null"))
    else Gen.frequency(
      8 -> value(0),
      1 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(depth - 1)))
        .map(_.mkString("[", ",", "]")),
      1 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, field(depth - 1)))
        .map(_.mkString("{", ",", "}")))

  private val keyGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(Promoted),
    4 -> Gen.oneOf(Dropped),
    6 -> Gen.oneOf(Others),
    1 -> Gen.oneOf("cr\\u0065ated", "messag\\u0065", "Created", ""))

  private def field(depth: Int): Gen[String] = for {
    k <- keyGen
    v <- value(depth)
  } yield "\"" + k + "\":" + v

  /** `created` in every JSON type; numeric strings cast as `try_cast`
    * does. NaN/Infinity spellings are left to their own spec. */
  val createdValue: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1.0e9, 2.0e9).map(_.toString),
    2 -> Gen.choose(0L, 2000000000L).map(_.toString),
    2 -> Gen.oneOf("\"12.5\"", "\" 7 \"", "\"1e3\"", "\"1d\"", "\"0x1p3\"", "\"1767443485.511\""),
    1 -> Gen.oneOf("\"abc\"", "\"\"", "true", "false", "{\"a\":1}", "[1]", "null", "1e400"),
    1 -> jsonNumber)

  /** An object: fields from the pool, often with a `created`. */
  val jsonObject: Gen[String] = for {
    n <- Gen.choose(0, 8)
    fs <- Gen.listOfN(n, field(2))
    withCreated <- Gen.frequency(5 -> true, 1 -> false)
    c <- createdValue
    at <- Gen.choose(0, n)
    ws <- Gen.oneOf("", "", " ", "\n ")
  } yield {
    val all = if (withCreated) fs.patch(at, Seq("\"created\":" + c), 0) else fs
    ws + all.mkString("{", ",", "}")
  }

  /** A LogRecord like the benchmark sends (Python `json.dumps` style). */
  val benchLine: Gen[String] = for {
    created <- Gen.choose(1.7e9, 1.8e9)
    service <- Gen.oneOf("auth", "billing", "search", "gateway")
    level <- Gen.oneOf(("INFO", 20), ("WARNING", 30), ("ERROR", 40))
    lineno <- Gen.choose(10, 900)
    cid <- Gen.uuid.map(u => if (u.hashCode % 10 == 0) u.toString.toUpperCase else u.toString)
    timing <- Gen.choose(0.0, 10.0)
    msg <- jsonString
    detail <- Gen.alphaNumStr.map(_.take(200))
    user <- Gen.option(Gen.choose(0, 199).map(i => f"u$i%03d"))
  } yield {
    val fields = Seq(
      s""""name":"venus.$service"""", """"msg":"%s event"""", s""""args":["$service"]""",
      s""""levelname":"${level._1}"""", s""""levelno":${level._2}""",
      s""""pathname":"/srv/$service/app/handlers.py"""", """"filename":"handlers.py"""",
      """"module":"handlers"""", """"exc_text":null""", """"stack_info":null""",
      s""""lineno":$lineno""", """"funcName":"handle_request"""",
      s""""created":$created""", s""""msecs":${(created * 1000 % 1000).floor}""",
      s""""thread":${lineno * 7919}""", """"threadName":"worker-3"""",
      """"processName":"MainProcess"""", s""""process":${lineno * 13}""",
      s""""correlation_id":"$cid"""", f""""random_timing_data":$timing%.6f""",
      s""""message":$msg""", s""""detail":"$detail"""") ++
      user.map(u => s""""user":"$u"""")
    fields.mkString("{", ",", "}")
  }

  /** What may follow a complete object on the line. */
  private val trailing: Gen[String] =
    Gen.oneOf(" trailing", "}", " {\"x\":1}", "]", " ", ",\"created\":5}")

  private val otherTopLevel: Gen[String] = Gen.oneOf(
    Gen.const(""), Gen.const("   "), Gen.const("null"), jsonNumber, jsonString,
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(1))).map(_.mkString("[", ",", "]")))

  /** Any line of the parity property. */
  val line: Gen[String] = {
    val whole = Gen.frequency(5 -> jsonObject, 4 -> benchLine)
    Gen.frequency(
      8 -> whole,
      3 -> (for { w <- whole; cut <- Gen.choose(0.0, 1.0) } yield w.take((w.length * cut).toInt)),
      2 -> (for { w <- whole; t <- trailing } yield w + t),
      2 -> otherTopLevel)
  }
}
