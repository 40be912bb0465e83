package graft.text

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TRUE byte-pair-encoding tokenization (SURVEY.md §2.H, t14) — applies
  * a ranked merges table iteratively per pre-tokenizer piece, the way a
  * real model tokenizer does, rather than merely COUNTING pre-tokenizer
  * pieces (t05). The merge loop is classic BPE: while any adjacent
  * symbol pair appears in the merges table, merge every non-overlapping
  * occurrence of the best-ranked (lowest-rank) such pair, leftmost
  * first, then re-scan. Ranks are unique by construction, so there are
  * no merge-order ties to break.
  *
  * Scale shape: encoding is a pure narrow per-row map (a codegen'd
  * static call, the `WavMath` pattern — no UDF, no array HOFs), so a
  * 100 TB corpus tokenizes with ZERO shuffles before the final
  * (doc_id, token) aggregation; per-piece cost is O(len² · lookup) with
  * a tiny constant against the in-JVM merge map.
  *
  * The merges table here is a pinned fixture vocabulary (multi-level
  * chains over the corpus's own vocabulary plus frequent English
  * digrams); a production deployment would load a model's merges.txt
  * into the same structure. It is the SINGLE source of truth for both
  * engines: the Spark kernel reads the compiled map, and the DuckDB
  * oracle replays the identical list via [[mergesSqlValues]], with the
  * merge loop expressed as a recursive CTE over a separator-encoded
  * symbol string (each symbol carries its OWN boundary separators —
  * `\u001f a \u001f\u001f b \u001f` — so one SQL `replace` call is
  * exactly one leftmost non-overlapping merge-all pass).
  */
object Bpe {

  /** A compiled BPE vocabulary: the ranked merges plus the derived
    * lookup maps and the encoder over them. Serializable so an
    * expression carrying a LOADED vocabulary ships it inside the
    * serialized plan to every executor (driver-side mutable globals
    * would silently not propagate on a real cluster); the maps are
    * `@transient lazy`, rebuilt once per JVM on first use.
    *
    * @param byteLevel GPT-2-style byte-level vocabulary: pre-tokenize
    *   with the GPT-2 piece regex over the RAW text (case preserved),
    *   map each piece's UTF-8 bytes through the public byte↔unicode
    *   table (space → `Ġ`, newline → `Ċ`, …), and merge over the mapped
    *   single-char symbols. This is the mode a real model's merges.txt
    *   needs — its `Ġ`-prefixed, case-sensitive merges can never fire
    *   under the fixture pre-tokenizer ([[loadVocab]] detects and
    *   arbitrates).
    */
  final class Vocab(val merges: Vector[(String, String)],
      val byteLevel: Boolean) extends Serializable {
    def this(merges: Vector[(String, String)]) = this(merges, false)

    @transient private lazy val rankOf: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      merges.zipWithIndex.foreach { case ((a, b), r) => m.put(a + "\u0000" + b, r) }
      m
    }

    /** token string → id: single characters are their code point; a
      * merged symbol is [[Bpe.MergedIdBase]] + the MIN rank of a merge
      * producing that concatenation (min guards against two merges
      * concatenating to the same string). The base sits past
      * `Character.MAX_CODE_POINT`, so merged ids can never collide with
      * a single character's code point — with a real ~50k-merge
      * vocabulary a 256-based scheme would overlap most of the BMP and
      * make ids non-injective. −1 for a multi-char string no merge
      * produces (cannot occur on encoder output).
      */
    @transient private lazy val idOf: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      merges.zipWithIndex.foreach { case ((a, b), r) =>
        val t = a + b
        if (!m.containsKey(t)) m.put(t, MergedIdBase + r)
      }
      m
    }

    def tokenId(tok: String): Int =
      if (tok.codePointCount(0, tok.length) == 1) tok.codePointAt(0)
      else Option(idOf.get(tok)).map(_.toInt).getOrElse(-1)

    /** BPE-encode one pre-tokenizer piece. Symbols are CODE POINTS, not
      * UTF-16 units — a supplementary character (emoji, rare CJK) must
      * stay one symbol, or its two surrogate halves become
      * lone-surrogate "tokens" that UTF8String encodes as `?` while the
      * code-point-based oracle (DuckDB `len`) keeps the character whole.
      */
    def encodePiece(piece: String): Array[String] = {
      val n = piece.codePointCount(0, piece.length)
      if (n <= 1) return Array(piece)
      var syms = new Array[String](n)
      var i = 0
      var off = 0
      while (off < piece.length) {
        val cc = Character.charCount(piece.codePointAt(off))
        syms(i) = piece.substring(off, off + cc)
        i += 1; off += cc
      }
      var done = false
      while (!done && syms.length > 1) {
        var best = Int.MaxValue
        var j = 0
        while (j < syms.length - 1) {
          val r = rankOf.get(syms(j) + "\u0000" + syms(j + 1))
          if (r != null && r < best) best = r
          j += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (a, b) = merges(best)
          val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var k = 0
          while (k < syms.length) {
            if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
              out += a + b; k += 2
            } else { out += syms(k); k += 1 }
          }
          syms = out.toArray
        }
      }
      syms
    }

    /** BPE tokens of a whole document: pre-tokenize, encode each piece,
      * concatenate. Empty/blank input → empty array. Fixture mode
      * expects canonical (lowercased) text; byte-level mode takes the
      * raw text (its pre-tokenizer and byte mapping preserve case and
      * whitespace — the encoding is lossless by construction).
      */
    def encodeDoc(norm: UTF8String): ArrayData = {
      val s = norm.toString
      val out = new scala.collection.mutable.ArrayBuffer[Any](s.length / 3 + 1)
      val m = (if (byteLevel) Gpt2PieceRe else PieceRe).matcher(s)
      while (m.find()) {
        val toks = encodePiece(
          if (byteLevel) mapBytes(m.group()) else m.group())
        var i = 0
        while (i < toks.length) { out += UTF8String.fromString(toks(i)); i += 1 }
      }
      new GenericArrayData(out.toArray)
    }

    def tokenIdU(tok: UTF8String): Int = tokenId(tok.toString)
  }

  /** Ranked merges (rank = index). Chain families first (value, table,
    * scan, hash, row, part, merge, fast, spark — the corpus vocabulary)
    * so multi-level merging is exercised on real data, then frequent
    * English digrams and digit pairs.
    */
  val merges: Vector[(String, String)] = Vector(
    ("t", "h"), ("th", "e"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
    ("r", "o"), ("ro", "w"),
    ("p", "a"), ("pa", "r"), ("par", "t"),
    ("i", "n"), ("in", "g"),
    ("e", "r"), ("a", "n"), ("an", "d"), ("r", "e"), ("o", "n"),
    ("a", "t"), ("e", "n"), ("o", "r"), ("s", "t"), ("a", "r"),
    ("a", "l"), ("t", "o"), ("i", "s"), ("i", "t"), ("o", "u"),
    ("e", "s"), ("l", "e"), ("s", "e"),
    ("m", "e"), ("me", "r"), ("mer", "g"), ("merg", "e"),
    ("0", "0"), ("1", "0"), ("2", "0"),
    ("f", "a"), ("fa", "s"), ("fas", "t"),
    ("s", "p"), ("sp", "a"), ("spa", "r"), ("spar", "k"))

  /** The pinned fixture vocabulary — the single source of truth for the
    * t14 oracle (its SQL replays [[mergesSqlValues]]) and the default
    * binding of the registered kernels.
    */
  val default: Vocab = new Vocab(merges)

  /** First id of the merged-token id space: one past the last Unicode
    * code point, so single-character token ids (their code points) and
    * merged-token ids (base + rank) are disjoint for ANY vocabulary
    * size. Mirrored literally in the t14 oracle SQL.
    */
  val MergedIdBase: Int = Character.MAX_CODE_POINT + 1 // 0x110000 = 1114112

  /** The t05 pre-tokenizer: letter runs / digit runs / single
    * punctuation over the canonical (lowercased, space-collapsed) text.
    */
  private val PieceRe = java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")

  /** The GPT-2 pre-tokenizer (public regex from the GPT-2 release):
    * contractions, optionally space-prefixed letter/number/punctuation
    * runs, and trailing/inner whitespace runs. Used in byte-level mode
    * over the RAW text.
    */
  private val Gpt2PieceRe = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** The GPT-2 byte↔unicode table (public algorithm): printable
    * single-byte code points map to themselves; the other 68 bytes map
    * to 256, 257, … in byte order — space becomes `Ġ` (U+0120), newline
    * `Ċ` (U+010A). Every byte becomes exactly one PRINTABLE char, so
    * merges files stay line-oriented text and the encoding is lossless.
    */
  private[text] val byteToChar: Array[Char] = {
    val keep = ((0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)).toSet
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (keep(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }

  /** The 68 remapped chars — their presence in a merges symbol is the
    * fingerprint of a byte-level vocabulary ([[loadVocab]] detection).
    */
  private val ByteRemapChars: Set[Char] =
    byteToChar.filter(_ >= 0x100).toSet

  private[text] val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** Raw piece → byte-level symbol string (one mapped char per UTF-8
    * byte of the piece).
    */
  private[text] def mapBytes(piece: String): String = {
    val bs = piece.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val cs = new Array[Char](bs.length)
    var i = 0
    while (i < bs.length) { cs(i) = byteToChar(bs(i) & 0xff); i += 1 }
    new String(cs)
  }

  /** Inverse of [[mapBytes]] over any concatenation of byte-level
    * tokens — the lossless round-trip a byte-level encoding guarantees.
    */
  private[graft] def unmapBytes(tokens: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    tokens.foreach(_.foreach(c => out.write(charToByte(c) & 0xff)))
    out.toByteArray
  }

  // static entry points for the DEFAULT-vocab codegen kernels (a static
  // call keeps the generated code reference-free) and the specs
  def tokenId(tok: String): Int = default.tokenId(tok)
  def encodePiece(piece: String): Array[String] = default.encodePiece(piece)
  def encodeDoc(norm: UTF8String): ArrayData = default.encodeDoc(norm)
  def tokenIdU(tok: UTF8String): Int = default.tokenIdU(tok)

  /** Parse a model's `merges.txt` (the format GPT-2-style tokenizers
    * publish: optional `#version` header on the first line, then ONE
    * merge per line as two space-separated symbols, rank = line order)
    * into the engine's merges structure — feed the result to
    * [[Vocab]]/[[BpeFunctions.register]] to tokenize with a real
    * model vocabulary (`Runner --bpe-merges <path>`). Driver-side
    * control-plane I/O (the file is KBs); any Hadoop-visible path
    * works. Fails loudly on a malformed or duplicate line — a silently
    * skipped merge would shift every later rank and change every
    * encoding.
    */
  def loadMerges(path: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Vector[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val body = lines.zipWithIndex
      .dropWhile { case (l, i) => i == 0 && l.startsWith("#version") }
      .filter { case (l, _) => l.trim.nonEmpty }
    val pairs = body.map { case (l, i) =>
      l.split(" ", -1) match {
        case Array(a, b) if a.nonEmpty && b.nonEmpty => (a, b)
        case _ => sys.error(s"$path line ${i + 1}: expected 'A B' " +
          s"(two space-separated symbols), got '$l'")
      }
    }
    val dups = pairs.groupBy(identity).filter(_._2.size > 1).keys
    if (dups.nonEmpty)
      sys.error(s"$path: duplicate merge pair(s) ${dups.take(3).mkString(", ")} — " +
        "ranks would be ambiguous")
    if (pairs.isEmpty) sys.error(s"$path: no merges found")
    pairs
  }

  /** Load a merges.txt into a ready [[Vocab]], arbitrating the
    * pre-tokenization mode — the entry point `Runner --bpe-merges`
    * uses. A real model's merges are usually BYTE-LEVEL (GPT-2 family):
    * `Ġ`-prefixed space markers and case-sensitive symbols that can
    * never fire under the engine's fixture pre-tokenizer (lowercased
    * `[a-z]+`/`[0-9]+`/single-punct pieces) — loading one in fixture
    * mode would leave most merges dead and silently inflate every
    * "real-token mode" count the vocabulary was loaded to fix.
    *
    * `byteLevel = None` (default) auto-detects: any remapped byte char
    * in any symbol ⇒ byte-level; otherwise every merge must be
    * REACHABLE under the fixture pre-tokenizer (both sides all-[a-z] or
    * all-[0-9]) or the load FAILS loudly, naming dead merges.
    * `Some(true)` forces byte-level; `Some(false)` forces fixture mode
    * and downgrades the reachability failure to a loud warning — the
    * explicit "counts are approximate" opt-in.
    */
  def loadVocab(path: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration(),
      byteLevel: Option[Boolean] = None): Vocab = {
    val merges = loadMerges(path, conf)
    val detected = merges.exists { case (a, b) =>
      a.exists(ByteRemapChars.contains) || b.exists(ByteRemapChars.contains) }
    val bl = byteLevel.getOrElse(detected)
    if (!bl) {
      def reachable(a: String, b: String): Boolean = {
        val t = a + b
        t.forall(c => c >= 'a' && c <= 'z') || t.forall(c => c >= '0' && c <= '9')
      }
      val dead = merges.filterNot { case (a, b) => reachable(a, b) }
      if (dead.nonEmpty) {
        val msg = s"$path: ${dead.size} of ${merges.size} merges can never fire " +
          "under the fixture pre-tokenizer (lowercased [a-z]+/[0-9]+/single-punct " +
          s"pieces) — e.g. ${dead.take(3).map { case (a, b) => s"'$a $b'" }.mkString(", ")}. " +
          "Token counts would be silently inflated versus the tokenizer this " +
          "vocabulary belongs to."
        if (byteLevel.isEmpty)
          sys.error(msg + " Load with byteLevel = Some(true) for a GPT-2-style " +
            "byte-level vocabulary, or Some(false) to accept approximate counts.")
        else
          System.err.println(s"[bpe] WARNING: $msg (fixture mode forced by caller)")
      }
    }
    new Vocab(merges, bl)
  }

  /** Learn a merges table from a corpus — classic BPE training
    * (Sennrich et al. 2016, public algorithm): start from
    * single-character (or byte-level) symbols, repeatedly merge the
    * most frequent adjacent pair across all pieces, rank = merge order.
    * Deterministic: frequency ties break on the lexicographically
    * smallest pair. Driver-side over an aggregated piece→count map
    * (the heavy piece counting runs in Spark; distinct pieces are
    * control-plane-sized), stopping early when no pair repeats.
    * Exists so realistic multi-thousand-merge vocabularies can be
    * produced and exercised in a zero-egress environment; the output
    * round-trips through merges.txt / [[loadVocab]].
    */
  def train(pieceCounts: Map[String, Long], nMerges: Int,
      byteLevel: Boolean = false): Vector[(String, String)] = {
    var words: Array[(Array[String], Long)] = pieceCounts.iterator.map {
      case (p0, c) =>
        val p = if (byteLevel) mapBytes(p0) else p0
        val n = p.codePointCount(0, p.length)
        val syms = new Array[String](n)
        var i = 0; var off = 0
        while (off < p.length) {
          val cc = Character.charCount(p.codePointAt(off))
          syms(i) = p.substring(off, off + cc); i += 1; off += cc
        }
        (syms, c)
    }.filter(_._1.length > 1).toArray
    val out = Vector.newBuilder[(String, String)]
    var made = 0
    var exhausted = false
    while (made < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val pair = (syms(j), syms(j + 1))
          counts.update(pair, counts.getOrElse(pair, 0L) + c)
          j += 1
        }
      }
      var best: (String, String) = null
      var bestC = 1L // require a pair to repeat — rank-padding merges help nothing
      counts.foreach { case (pair, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (pair._1 + " " + pair._2) < (best._1 + " " + best._2)))
          { best = pair; bestC = c }
      }
      if (best == null) exhausted = true
      else {
        out += best
        made += 1
        val (a, b) = best
        words = words.map { case (syms, c) =>
          var hit = false
          var j = 0
          while (!hit && j < syms.length - 1) {
            hit = syms(j) == a && syms(j + 1) == b; j += 1
          }
          if (!hit) (syms, c)
          else {
            val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var k = 0
            while (k < syms.length) {
              if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
                buf += a + b; k += 2
              } else { buf += syms(k); k += 1 }
            }
            (buf.toArray, c)
          }
        }.filter(_._1.length > 1)
        if (words.isEmpty) exhausted = true
      }
    }
    out.result()
  }

  /** [[train]] over raw document texts: fixture mode pre-tokenizes the
    * canonical (lowercased, space-collapsed) text with the t05 regex;
    * byte-level mode pre-tokenizes the raw text with the GPT-2 regex
    * (the byte mapping happens inside [[train]]).
    */
  def trainFromTexts(texts: IterableOnce[String], nMerges: Int,
      byteLevel: Boolean = false): Vector[(String, String)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    texts.iterator.foreach { t =>
      val s = if (byteLevel) t
              else t.toLowerCase.trim.replaceAll("\\s+", " ")
      val m = (if (byteLevel) Gpt2PieceRe else PieceRe).matcher(s)
      while (m.find()) {
        val p = m.group()
        counts.update(p, counts.getOrElse(p, 0L) + 1L)
      }
    }
    train(counts.toMap, nMerges, byteLevel)
  }

  /** Serialize merges in the standard merges.txt format ([[loadMerges]]
    * round-trips it).
    */
  def mergesFileContent(merges: Seq[(String, String)]): String =
    ("#version: 0.2" +: merges.map { case (a, b) => s"$a $b" }).mkString("\n")

  /** The merges table as a SQL VALUES body `(rank, a, b), ...` — the
    * oracle-side mirror, generated from the same vector.
    */
  def mergesSqlValues: String = mergesSqlValuesOf(merges)

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** An arbitrary merges table as a SQL VALUES body — the oracle-side
    * mirror for TRAINED vocabularies (t15's in-engine byte-level vocab).
    */
  def mergesSqlValuesOf(ms: Seq[(String, String)]): String =
    ms.zipWithIndex
      .map { case ((a, b), r) => s"($r, ${sqlQuote(a)}, ${sqlQuote(b)})" }
      .mkString(", ")

  /** The GPT-2 byte↔unicode table as a SQL VALUES body `(byte, char)` —
    * 256 rows generated from the same array the kernel uses, so the
    * DuckDB oracle replays the byte mapping from the single source of
    * truth (every mapped char is printable by construction, so the
    * VALUES body stays a plain SQL literal).
    */
  def byteMapSqlValues: String =
    byteToChar.zipWithIndex
      .map { case (c, b) => s"($b, ${sqlQuote(c.toString)})" }.mkString(", ")
}

/** `bpe_tokens(string) -> array<string>` — whole-document true-BPE
  * tokenization as a native codegen'd expression. Bound to the pinned
  * fixture vocabulary by default (a static codegen call, reference-free
  * generated code); a LOADED vocabulary ([[Bpe.loadMerges]]) rides the
  * expression as a codegen reference object, so it serializes with the
  * plan and reaches every executor — the d16 Bloom-bitmap pattern.
  */
case class BpeTokensExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
    vocab: Bpe.Vocab = Bpe.default)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    vocab.encodeDoc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (vocab eq Bpe.default)
      defineCodeGen(ctx, ev, c => s"graft.text.Bpe.encodeDoc($c)")
    else {
      val ref = ctx.addReferenceObj("bpeVocab", vocab, classOf[Bpe.Vocab].getName)
      defineCodeGen(ctx, ev, c => s"$ref.encodeDoc($c)")
    }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): BpeTokensExpr =
    copy(child = newChild)
  override def prettyName: String = "bpe_tokens"
}

/** `bpe_token_id(string) -> int` — the vocabulary id of an encoder
  * output token ([[Bpe.Vocab.tokenId]]): code point for single
  * characters, [[Bpe.MergedIdBase]] + merge rank for merged symbols — two
  * disjoint id spaces, injective for any vocabulary. Same default/loaded
  * vocabulary binding as [[BpeTokensExpr]].
  */
case class BpeTokenIdExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
    vocab: Bpe.Vocab = Bpe.default)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    vocab.tokenIdU(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (vocab eq Bpe.default)
      defineCodeGen(ctx, ev, c => s"graft.text.Bpe.tokenIdU($c)")
    else {
      val ref = ctx.addReferenceObj("bpeVocab", vocab, classOf[Bpe.Vocab].getName)
      defineCodeGen(ctx, ev, c => s"$ref.tokenIdU($c)")
    }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): BpeTokenIdExpr =
    copy(child = newChild)
  override def prettyName: String = "bpe_token_id"
}

/** Session registration for the BPE kernels. Unlike the constant
  * kernels this always replaces: passing a loaded [[Bpe.Vocab]] re-binds
  * `bpe_tokens`/`bpe_token_id` to that vocabulary for the session
  * (`Runner --bpe-merges`), and the oracle-bound t14 query re-registers
  * the pinned default before running.
  */
object BpeFunctions {
  import graft.catalyst.Kernel
  def register(spark: org.apache.spark.sql.SparkSession,
      vocab: Bpe.Vocab = Bpe.default): Unit =
    Kernel.register(spark, Seq(
      Kernel("bpe_tokens", classOf[BpeTokensExpr], c => BpeTokensExpr(c.head, vocab)),
      Kernel("bpe_token_id", classOf[BpeTokenIdExpr], c => BpeTokenIdExpr(c.head, vocab))),
      replace = true)
}
