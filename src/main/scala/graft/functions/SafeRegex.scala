package graft.functions

import scala.collection.mutable

/** Pluggable regex engine — the reference templates its Validator on a
  * RegexEngine type parameter precisely because backtracking engines
  * (std::regex there, java.util.regex here) explode on adversarial
  * patterns (`validator.hpp:100-116`, reference `README.md:140-170`). At
  * 100 TB one pathological `pattern` keyword in a schema stalls executors
  * for hours; [[ThompsonRegexEngine]] is linear-time by construction.
  *
  * Semantics: unanchored *search* (the `pattern` constraint rule,
  * `validation_visitor.hpp:1064-1085`).
  */
trait RegexEngine extends Serializable {
  def search(pattern: String, input: String): Boolean
  /** Eagerly compile (and cache) a pattern so an invalid/unsupported schema
    * pattern fails at PLAN time on the driver with a clear error, instead of
    * surfacing as a per-task exception on executors mid-job. */
  def compile(pattern: String): Unit = ()
  /** The search for one pattern, compiled once: a caller that tests the
    * same pattern many times holds this instead of calling [[search]],
    * which looks the pattern up on every call. Same semantics as
    * `search(pattern, _)`, and the same error if the pattern does not
    * compile. */
  def searcher(pattern: String): String => Boolean = input => search(pattern, input)
}

/** Default engine: JDK regex (full dialect, backtracking), with a
  * compiled-pattern cache per JVM (validator.hpp:96 analog). */
object JavaRegexEngine extends RegexEngine {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def compiled(pattern: String): java.util.regex.Pattern =
    cache.computeIfAbsent(pattern, java.util.regex.Pattern.compile(_))
  override def compile(pattern: String): Unit = compiled(pattern)
  override def search(pattern: String, input: String): Boolean =
    compiled(pattern).matcher(input).find()
  /** Reuses one `Matcher` per thread, reset for each input, instead of
    * allocating one per test; a `Matcher` is mutable, so it is never shared
    * between threads. */
  override def searcher(pattern: String): String => Boolean = {
    val re = compiled(pattern)
    val matcher = ThreadLocal.withInitial[java.util.regex.Matcher](() => re.matcher(""))
    input => matcher.get.reset(input).find()
  }
}

/** Thompson-NFA engine: O(|pattern| x |input|) worst case — immune to the
  * catastrophic backtracking of `(a+)+b`-style patterns. Supports the
  * schema-pattern subset: literals, `.`, character classes (ranges,
  * negation), escapes (\d \D \w \W \s \S and escaped punctuation), anchors
  * `^` `$`, alternation, (non-capturing) groups, quantifiers `* + ?`
  * and `{m}` `{m,}` `{m,n}`. Unsupported constructs (backreferences,
  * lookaround, inline flags) throw at compile time so callers can fall
  * back to [[JavaRegexEngine]] explicitly. */
object ThompsonRegexEngine extends RegexEngine {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, ThompsonRegex]()
  private def compiled(pattern: String): ThompsonRegex =
    cache.computeIfAbsent(pattern, new ThompsonRegex(_))
  override def compile(pattern: String): Unit = compiled(pattern)
  override def search(pattern: String, input: String): Boolean =
    compiled(pattern).search(input)
  override def searcher(pattern: String): String => Boolean = compiled(pattern).search
}

final class ThompsonRegex(pattern: String) extends Serializable {

  // The engine operates on CODE POINTS, not UTF-16 units: the JDK engine
  // treats a supplementary character as a single atom (a literal U+1F432
  // quantifies as one unit, '.' consumes a whole surrogate pair, class
  // ranges span astral endpoints), and the two engines must agree on every
  // input — the official suite's non-BMP-regex inventory asserts exactly
  // this ("proper UTF-16 surrogate pair handling").
  // ---- AST -----------------------------------------------------------------
  private sealed trait Node
  private case class Chr(f: Int => Boolean) extends Node
  private case class Cat(a: Node, b: Node) extends Node
  private case class Alt(a: Node, b: Node) extends Node
  private case class Star(a: Node) extends Node
  private case class Plus(a: Node) extends Node
  private case class Opt(a: Node) extends Node
  private case object Start extends Node
  private case object End extends Node
  private case object Empty extends Node

  private def fail(msg: String): Nothing =
    throw new java.util.regex.PatternSyntaxException(msg, pattern, -1)

  // ---- recursive-descent parser ---------------------------------------------
  // `pos` is a char (UTF-16) index; `peek` reads the full code point there.
  // Metacharacter lookaheads via charAt stay correct: no surrogate equals an
  // ASCII char.
  private var pos = 0
  private def peek: Int = pattern.codePointAt(pos)
  private def skip(cp: Int): Unit = pos += Character.charCount(cp)
  private def more: Boolean = pos < pattern.length

  private def parseAlt(): Node = {
    var n = parseCat()
    while (more && peek == '|') { pos += 1; n = Alt(n, parseCat()) }
    n
  }
  private def parseCat(): Node = {
    var n: Node = Empty
    while (more && peek != '|' && peek != ')') {
      val r = parseRep()
      n = if (n == Empty) r else Cat(n, r)
    }
    n
  }
  private def parseRep(): Node = {
    var a = parseAtom()
    var cont = true
    var quantified = false
    def post(): Unit = {
      // after a quantifier: '?' (reluctant) is a no-op for existence-of-match
      // search; '+' (possessive) changes match semantics vs the JDK and a
      // second greedy quantifier is JDK-invalid — both must fail loudly
      if (more && peek == '?') pos += 1
      else if (more && (peek == '+' || peek == '*'))
        fail("possessive / stacked quantifiers not supported")
      quantified = true
    }
    while (more && cont) pattern.charAt(pos) match {
      case '*' if quantified => fail("stacked quantifiers not supported")
      case '+' if quantified => fail("possessive / stacked quantifiers not supported")
      // without this guard `a???` / `a*??` compile here (the reluctant '?'
      // was already consumed by post()), while the JDK throws Dangling
      // meta character — breaking the two-engine agreement invariant
      case '?' if quantified => fail("stacked quantifiers not supported")
      case '*' => pos += 1; a = Star(a); post()
      case '+' => pos += 1; a = Plus(a); post()
      case '?' => pos += 1; a = Opt(a); post()
      case '{' =>
        val close = pattern.indexOf('}', pos)
        if (close < 0) fail("unclosed {")
        val body = pattern.substring(pos + 1, close)
        val parts = body.split(",", -1)
        // at most {n} or {n,m}: the JDK rejects {2,3,4}, silently reading
        // it as {2,3} here would reinterpret a malformed schema pattern
        if (parts.length > 2 ||
            !parts.forall(p => p.isEmpty || p.forall(_.isDigit)) || parts.head.isEmpty)
          fail(s"bad repetition {$body}")
        val min = parts(0).toInt
        val max: Option[Int] =
          if (parts.length == 1) Some(min)
          else if (parts(1).isEmpty) None else Some(parts(1).toInt)
        if (min > 512 || max.exists(_ > 512)) fail("repetition bound too large (>512)")
        if (max.exists(_ < min)) fail(s"bad repetition {$body}")
        pos = close + 1
        if (quantified) fail("stacked quantifiers not supported")
        val base = a
        var n: Node = Empty
        for (_ <- 0 until min) n = if (n == Empty) base else Cat(n, base)
        max match {
          case None => n = if (n == Empty) Star(base) else Cat(n, Star(base))
          case Some(mx) =>
            for (_ <- min until mx) n = if (n == Empty) Opt(base) else Cat(n, Opt(base))
        }
        a = n
        post()
      case _ => cont = false
    }
    a
  }
  private def parseAtom(): Node = {
    if (!more) return Empty
    pattern.charAt(pos) match {
      case '(' =>
        pos += 1
        if (more && peek == '?') {
          // only non-capturing groups of the (?:...) form are supported
          if (pos + 1 < pattern.length && pattern.charAt(pos + 1) == ':') pos += 2
          else fail("lookaround / inline flags not supported")
        }
        val n = parseAlt()
        if (!more || peek != ')') fail("unclosed (")
        pos += 1
        n
      case '[' => parseClass()
      case '.' => pos += 1 // JDK '.': any code point except line terminators
        Chr(ch => ch != '\n' && ch != '\r' && ch != '' && ch != ' ' && ch != ' ')
      case '^' => pos += 1; Start
      case '$' => pos += 1; End
      case '\\' => pos += 1; Chr(parseEscape())
      case ')' | '|' => Empty
      case '*' | '+' | '?' => fail(s"dangling quantifier at $pos")
      case '{' => fail(s"illegal repetition at $pos") // JDK: '{' with no preceding atom
      case _ => val c = peek; skip(c); Chr(_ == c)
    }
  }
  private def parseEscape(): Int => Boolean = {
    if (!more) fail("trailing backslash")
    val cp = peek; skip(cp)
    // escaped astral punctuation: a literal single-code-point atom (the JDK
    // treats backslash + non-alphanumeric as the literal character)
    if (cp > 0xFFFF) {
      if (!Character.isLetterOrDigit(cp)) return (ch: Int) => ch == cp
      else fail(s"unsupported escape")
    }
    val c = cp.toChar
    // ASCII-only predicate classes, byte-matching the JDK defaults (no
    // UNICODE_CHARACTER_CLASS): \d=[0-9], \w=[a-zA-Z0-9_], \s=[ \t\n\x0B\f\r].
    // Character.isDigit / isWhitespace would accept non-ASCII code points the
    // JDK engine (and the codegen'd rlike path) reject — the two engines must
    // agree on every input.
    def asciiDigit(ch: Int): Boolean = ch >= '0' && ch <= '9'
    def asciiWord(ch: Int): Boolean =
      (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') || asciiDigit(ch) || ch == '_'
    def asciiSpace(ch: Int): Boolean =
      ch == ' ' || ch == '\t' || ch == '\n' || ch == 11 || ch == '\f' || ch == '\r'
    c match {
      case 'd' => asciiDigit
      case 'D' => ch => !asciiDigit(ch)
      case 'w' => asciiWord
      case 'W' => ch => !asciiWord(ch)
      case 's' => asciiSpace
      case 'S' => ch => !asciiSpace(ch)
      case 'n' => _ == '\n'
      case 'r' => _ == '\r'
      case 't' => _ == '\t'
      case 'f' => _ == '\f'
      case 'b' | 'B' => fail("word boundaries not supported") // zero-width
      case x if !x.isLetterOrDigit => (_: Int) == x.toInt // escaped punctuation
      case x => fail(s"unsupported escape \\$x")
    }
  }
  private def parseClass(): Node = {
    pos += 1 // '['
    val negate = more && peek == '^'
    if (negate) pos += 1
    val preds = mutable.ArrayBuffer[Int => Boolean]()
    var first = true
    while (more && (peek != ']' || first)) {
      first = false
      val lo: Either[Int => Boolean, Int] =
        if (peek == '\\') { pos += 1; Left(parseEscape()) }
        else { val c = peek; skip(c); Right(c) }
      lo match {
        case Left(f) => preds += f
        case Right(c) =>
          // range lookahead: '-' then not-']' — charAt is safe, no surrogate
          // equals either ASCII char; ranges span code points (JDK semantics)
          if (more && peek == '-' && pos + 1 < pattern.length && pattern.charAt(pos + 1) != ']') {
            pos += 1
            val hi = if (peek == '\\') { pos += 1; fail("range to escape") }
                     else { val h = peek; skip(h); h }
            preds += (ch => ch >= c && ch <= hi)
          } else preds += (_ == c)
      }
    }
    if (!more) fail("unclosed [")
    pos += 1 // ']'
    val ps = preds.toIndexedSeq
    val f: Int => Boolean = ch => ps.exists(_(ch))
    Chr(if (negate) ch => !f(ch) else f)
  }

  // ---- compile to a Pike-VM program ------------------------------------------
  private sealed trait Inst
  private case class IChar(f: Int => Boolean) extends Inst
  private case class ISplit(a: Int, b: Int) extends Inst
  private case class IJmp(t: Int) extends Inst
  private case object IStart extends Inst
  private case object IEnd extends Inst
  private case object IMatch extends Inst

  private val prog: IndexedSeq[Inst] = {
    val ast = parseAlt()
    if (more) fail(s"unexpected '${peek}' at $pos")
    val buf = mutable.ArrayBuffer[Inst]()
    def emit(n: Node): Unit = n match {
      case Empty => ()
      case Chr(f) => buf += IChar(f)
      case Start => buf += IStart
      case End => buf += IEnd
      case Cat(a, b) => emit(a); emit(b)
      case Alt(a, b) =>
        val sp = buf.length; buf += null
        val pa = buf.length; emit(a)
        val jm = buf.length; buf += null
        val pb = buf.length; emit(b)
        buf(sp) = ISplit(pa, pb); buf(jm) = IJmp(buf.length)
      case Star(a) =>
        val sp = buf.length; buf += null
        val pa = buf.length; emit(a)
        buf += IJmp(sp)
        buf(sp) = ISplit(pa, buf.length)
      case Plus(a) =>
        val pa = buf.length; emit(a)
        val sp = buf.length; buf += null
        buf(sp) = ISplit(pa, buf.length)
      case Opt(a) =>
        val sp = buf.length; buf += null
        val pa = buf.length; emit(a)
        buf(sp) = ISplit(pa, buf.length)
    }
    emit(ast)
    buf += IMatch
    if (buf.length > 20000) fail("compiled program too large")
    buf.toIndexedSeq
  }

  // ---- simulation (thread lists with generation marking) ----------------------
  def search(input: String): Boolean = {
    val n = prog.length
    val mark = new Array[Int](n)
    java.util.Arrays.fill(mark, -1)
    var cur = new Array[Int](n); var curLen = 0
    var nxt = new Array[Int](n); var nxtLen = 0
    var matched = false
    val len = input.length

    // reusable closure stack: splits can push 2 per state, bounded by 2n
    val stack = new Array[Int](2 * n + 2)
    def add(list: Array[Int], lenRef: Int, pc: Int, at: Int, gen: Int): Int = {
      var l = lenRef
      var sp = 0
      stack(sp) = pc; sp += 1
      while (sp > 0) {
        sp -= 1
        val p = stack(sp)
        if (mark(p) != gen) {
          mark(p) = gen
          prog(p) match {
            case ISplit(a, b) => stack(sp) = a; sp += 1; stack(sp) = b; sp += 1
            case IJmp(t)      => stack(sp) = t; sp += 1
            case IStart       => if (at == 0) { stack(sp) = p + 1; sp += 1 }
            case IEnd         => if (at == len) { stack(sp) = p + 1; sp += 1 }
            case IMatch       => matched = true
            case _: IChar     => list(l) = p; l += 1
          }
        }
      }
      l
    }

    var at = 0
    var gen = 0
    curLen = add(cur, 0, 0, 0, gen)
    while (at < len && !matched) {
      // one step consumes one CODE POINT (surrogate pair = one atom), like
      // the JDK engine; `at` stays a char index so End anchors compare to len
      val c = input.codePointAt(at)
      val w = Character.charCount(c)
      gen += 1
      nxtLen = 0
      var i = 0
      while (i < curLen) {
        prog(cur(i)) match {
          case IChar(f) if f(c) => nxtLen = add(nxt, nxtLen, cur(i) + 1, at + w, gen)
          case _ => ()
        }
        i += 1
      }
      // unanchored search: re-inject the start state at the next position
      if (!matched) nxtLen = add(nxt, nxtLen, 0, at + w, gen)
      val t = cur; cur = nxt; nxt = t
      curLen = nxtLen
      at += w
    }
    matched
  }
}

/** Catalyst expression for a non-default regex engine (when the engine is
  * [[JavaRegexEngine]] the compiler uses the codegen'd built-in `rlike`
  * instead). */
case class RegexSearchExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
                           pattern: String, engine: RegexEngine)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{BooleanType, DataType, StringType}

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"regex_search requires a string input, got ${child.dataType}")

  // fail-fast: compile (and cache) the pattern at expression-construction
  // time on the driver, so an unsupported pattern aborts planning with a
  // PatternSyntaxException instead of failing every task at runtime
  engine.compile(pattern)

  override def nullSafeEval(input: Any): Any =
    engine.search(pattern, input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val engRef = ctx.addReferenceObj("graftRegexEngine", engine, classOf[RegexEngine].getName)
    val patRef = ctx.addReferenceObj("graftRegexPattern", pattern, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $engRef.search($patRef, $c.toString());")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): RegexSearchExpr =
    copy(child = newChild)
}
