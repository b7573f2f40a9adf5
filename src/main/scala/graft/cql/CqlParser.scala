package graft.cql

import graft.cql.Ast._

/** Recursive-descent parser for the CQL subset. Grammar shapes follow the
  * reference ANTLR grammar (`src/antlr/Parser.g`): createTableStatement
  * :753-860, insertStatement, updateStatement, deleteStatement,
  * selectStatement :250-470. Error messages mirror the reference's style.
  */
object CqlParser {

  final case class ParseException(msg: String) extends RuntimeException(msg)

  // ── tokenizer ─────────────────────────────────────────────────────────
  private sealed trait Tok { def text: String }
  private case class Ident(text: String) extends Tok
  private case class Num(text: String) extends Tok
  private case class Str(text: String) extends Tok
  private case class Sym(text: String) extends Tok
  /** unquoted uuid literal (Parser.g uuid rule; must win over Num/Ident). */
  private case class UuidTok(text: String) extends Tok
  /** 0x hex blob literal (Parser.g HEXNUMBER). */
  private case class HexTok(text: String) extends Tok
  /** :name named bind marker (Parser.g:41-74). */
  private case class NamedTok(text: String) extends Tok

  private def isHex(c: Char): Boolean = Character.digit(c, 16) >= 0

  /** 36-char uuid shape at position i (8-4-4-4-12 hex groups)? */
  private def uuidAt(s: String, i: Int): Boolean =
    i + 36 <= s.length && {
      val groups = Seq((0, 8), (9, 4), (14, 4), (19, 4), (24, 12))
      Seq(8, 13, 18, 23).forall(d => s(i + d) == '-') &&
        groups.forall { case (off, len) => (off until off + len).forall(j => isHex(s(i + j))) }
    }

  /** Keywords after which a term (and hence a `:name` marker) may directly
    * follow, even though the keyword lexes as an Ident.
    */
  private val preTermKeywords =
    Set("limit", "in", "ttl", "timestamp", "contains", "key", "like")

  /** Is a ':' at this point a named-marker prefix (expression position) or a
    * map/UDT key-value separator? A separator can only follow a completed key
    * term (identifier/literal); everything else — `{`, `,`, operators, a
    * term-introducing keyword — is expression position (Parser.g:41-74 vs
    * mapLiteral / usertypeLiteral).
    */
  private def markerPosition(prev: Option[Tok]): Boolean = prev match {
    case None => true
    case Some(Sym(t)) => t != ")" && t != "]" && t != "}"
    case Some(Ident(t)) => preTermKeywords.contains(t.toLowerCase)
    case _ => false // Num, Str, UuidTok, HexTok, NamedTok end a value
  }

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var prev: Option[Tok] = None
    // inside a {...} map/UDT literal a ':' directly after an identifier is
    // ALWAYS the key-value separator, even when the field happens to be
    // named like a term-introducing keyword (`{key:true}`, `{ttl:5}`) —
    // track brace depth so keyword-named fields don't lex ':true' as a
    // named marker (mapLiteral / usertypeLiteral vs Parser.g marker rule)
    var braceDepth = 0
    def emit(t: Tok): Unit = {
      t match {
        case Sym("{") => braceDepth += 1
        case Sym("}") => braceDepth = math.max(0, braceDepth - 1)
        case _ => ()
      }
      out += t; prev = Some(t)
    }
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (uuidAt(s, i)) { emit(UuidTok(s.substring(i, i + 36))); i += 36 }
      else if (c == ':' && i + 1 < s.length && (s(i + 1).isLetter || s(i + 1) == '_')
               && markerPosition(prev)
               && !(braceDepth > 0 && prev.exists(_.isInstanceOf[Ident]))) {
        val j = i + 1
        var k = j
        while (k < s.length && (s(k).isLetterOrDigit || s(k) == '_')) k += 1
        emit(NamedTok(s.substring(j, k))); i = k
      }
      else if (c == '0' && i + 2 < s.length && (s(i + 1) == 'x' || s(i + 1) == 'X') && isHex(s(i + 2))) {
        val j = i + 2
        var k = j
        while (k < s.length && isHex(s(k))) k += 1
        emit(HexTok(s.substring(j, k))); i = k
      }
      else if (c == '$' && i + 1 < s.length && s(i + 1) == '$') {
        // PG-style dollar-quoted string (Lexer.g STRING_LITERAL $$..$$ —
        // the conventional quoting for UDF bodies, which contain quotes);
        // no escape processing inside
        val end = s.indexOf("$$", i + 2)
        if (end < 0) throw ParseException("unterminated $$ string literal")
        emit(Str(s.substring(i + 2, end)))
        i = end + 2
      }
      else if (c == '\'') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done) {
          if (i >= s.length) throw ParseException("unterminated string literal")
          if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') { sb += '\''; i += 2 }
          else if (s(i) == '\'') { i += 1; done = true }
          else { sb += s(i); i += 1 }
        }
        emit(Str(sb.toString))
      } else if (c.isDigit) {
        // '-' is always its own token; negative literals re-attach in
        // literal() so selection arithmetic (a - 5) parses unambiguously
        val j = i
        i += 1
        // a '.' followed by another '.' is the slice range operator (2..8),
        // not a decimal point
        while (i < s.length && (s(i).isDigit ||
          (s(i) == '.' && !(i + 1 < s.length && s(i + 1) == '.')) ||
          s(i) == 'e' || s(i) == 'E' ||
          ((s(i) == '-' || s(i) == '+') && (s(i - 1) == 'e' || s(i - 1) == 'E')))) i += 1
        emit(Num(s.substring(j, i)))
      } else if (c.isLetter || c == '_') {
        val j = i
        while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
        emit(Ident(s.substring(j, i)))
      } else if ("<>!=+-".contains(c) && i + 1 < s.length && s(i + 1) == '=') {
        emit(Sym(s.substring(i, i + 2))); i += 2
      } else { emit(Sym(c.toString)); i += 1 }
    }
    out.result()
  }

  // ── parser state ─────────────────────────────────────────────────────
  private final class P(toks: Vector[Tok], val udts: Map[String, CqlUdt]) {
    private var pos = 0
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def peekAt(n: Int): Option[Tok] =
      if (pos + n < toks.length) Some(toks(pos + n)) else None
    // EOF must surface as the parser's own error, not an
    // IndexOutOfBounds (every truncated statement funnels through here)
    def next(): Tok =
      if (pos < toks.length) { val t = toks(pos); pos += 1; t }
      else throw ParseException("unexpected <eof>")
    def done: Boolean = pos >= toks.length || toks(pos).text == ";"

    def kw(word: String): Boolean = peek.exists {
      case Ident(t) => t.equalsIgnoreCase(word)
      case _ => false
    }
    def eatKw(word: String): Unit =
      if (kw(word)) pos += 1
      else throw ParseException(s"expected $word, got ${peek.map(_.text).getOrElse("<eof>")}")
    def tryKw(word: String): Boolean = { if (kw(word)) { pos += 1; true } else false }
    def sym(sm: String): Unit = peek match {
      case Some(Sym(t)) if t == sm => pos += 1
      case other => throw ParseException(s"expected '$sm', got ${other.map(_.text).getOrElse("<eof>")}")
    }
    def trySym(sm: String): Boolean = peek match {
      case Some(Sym(t)) if t == sm => pos += 1; true
      case _ => false
    }
    def ident(): String = next() match {
      case Ident(t) => t.toLowerCase
      case other => throw ParseException(s"expected identifier, got ${other.text}")
    }
    /** table name, optionally keyspace-qualified (`system_schema.tables`). */
    def tableName(): String = {
      val first = ident()
      if (trySym(".")) s"$first.${ident()}" else first
    }
    var bindCount = 0
    /** index → marker name (None for positional `?`). */
    var bindNames = Vector.empty[Option[String]]
    def literal(): Literal = next() match {
      case Sym("?") =>
        val m = BindMarker(bindCount); bindCount += 1
        bindNames :+= None
        m
      case NamedTok(n) =>
        // a repeated :name re-uses its first index (ExecuteMessage binds
        // named values once)
        val existing = bindNames.indexOf(Some(n.toLowerCase))
        if (existing >= 0) BindMarker(existing)
        else {
          val m = BindMarker(bindCount); bindCount += 1
          bindNames :+= Some(n.toLowerCase)
          m
        }
      // the reference lexes "-<digits>" as one integer, so its smallest
      // bigint is writable although its magnitude overflows a Long
      case Sym("-") if peek.contains(Num((BigInt(Long.MaxValue) + 1).toString)) =>
        next(); IntLit(Long.MinValue)
      case Sym("-") => literal() match {
        case IntLit(v) => IntLit(-v)
        case DoubleLit(v) => DoubleLit(-v)
        case other => throw ParseException(s"expected number after '-', got $other")
      }
      case Num(t) =>
        // a number directly followed by unit identifiers is a duration
        // literal (1h, 2mo3d...; tokenizer splits them Num+Ident)
        val durTail = peek match {
          case Some(Ident(u)) => CqlValues.parseDuration(t + u)
          case _ => None
        }
        durTail match {
          case Some((mo, d, n)) if !t.contains('.') =>
            next() // consume the unit tail
            DurationLit(mo, d, n)
          case _ =>
            // malformed numerics ("1e", "9"*30) must fail as CQL syntax
            // errors, not NumberFormatException
            try {
              if (t.contains('.') || t.toLowerCase.contains('e')) DoubleLit(t.toDouble)
              else IntLit(t.toLong)
            } catch {
              case _: NumberFormatException =>
                throw ParseException(s"invalid number literal '$t'")
            }
        }
      case Str(t) => StringLit(t)
      case UuidTok(t) => UuidLit(t.toLowerCase)
      case HexTok(t) => BlobLit(CqlValues.parseBlob(t))
      case Ident(t) if t.equalsIgnoreCase("true") => BoolLit(true)
      case Ident(t) if t.equalsIgnoreCase("false") => BoolLit(false)
      case Ident(t) if t.equalsIgnoreCase("null") => NullLit
      case Ident(t) if t.equalsIgnoreCase("system") && trySym(".") =>
        // `system.` function-namespace prefix on constant terms
        // (Parser.g functionName): system.now(), system.uuid()
        literal() match {
          case f: FnLit => f
          case other => throw ParseException(s"expected function after system., got $other")
        }
      case Ident(t) if trySym("(") =>
        // constant function term: now(), mintimeuuid('...'), uuid()
        var args = Vector.empty[Literal]
        if (!trySym(")")) {
          args :+= literal()
          while (trySym(",")) args :+= literal()
          sym(")")
        }
        FnLit(t.toLowerCase, args)
      case other => throw ParseException(s"expected literal, got ${other.text}")
    }
    def long(): Long = literal() match {
      case IntLit(v) => v
      case other => throw ParseException(s"expected integer, got $other")
    }
  }

  def parse(cql: String): Statement = parse(cql, Map.empty)

  /** Parse with a UDT registry (engine catalog) for resolving type names. */
  def parse(cql: String, udts: Map[String, CqlUdt]): Statement =
    parseWithBinds(cql, udts)._1

  /** Parse plus bind-marker metadata: total marker count and, per index,
    * the marker's name (None for positional `?`).
    */
  def parseWithBinds(cql: String,
                     udts: Map[String, CqlUdt]): (Statement, Int, Seq[Option[String]]) = {
    val p = new P(tokenize(cql), udts)
    val stmt =
      if (p.kw("begin")) parseBatch(p)
      else if (p.kw("use")) {
        p.eatKw("use"); UseKeyspace(p.ident())
      }
      else if (p.kw("alter")) {
        p.eatKw("alter")
        if (p.tryKw("keyspace")) {
          val n = p.ident()
          if (p.tryKw("with")) skipOptions(p)
          AlterKeyspace(n)
        } else if (p.tryKw("type")) parseAlterType(p)
        else if (p.tryKw("materialized")) {
          // alterMaterializedViewStatement (Parser.g; AlterViewStatement.java)
          p.eatKw("view")
          val n = p.tableName()
          p.eatKw("with")
          var opts = Vector.empty[(String, Literal)]
          var more = true
          while (more) {
            val o = tableParam(p); p.sym("=")
            opts :+= (o -> anyLiteral(p))
            more = p.tryKw("and")
          }
          AlterView(n, opts)
        }
        else parseAlterTable(p)
      }
      else if (p.kw("create")) parseCreate(p)
      else if (p.kw("drop")) {
        p.eatKw("drop")
        if (p.tryKw("materialized")) { p.eatKw("view"); DropView(p.tableName()) }
        else if (p.tryKw("keyspace")) {
          val ifExists = if (p.tryKw("if")) { p.eatKw("exists"); true } else false
          DropKeyspace(p.ident(), ifExists)
        }
        else if (p.tryKw("index")) {
          val ifExists = if (p.tryKw("if")) { p.eatKw("exists"); true } else false
          // index names may be keyspace-qualified (Parser.g indexName)
          DropIndex(p.tableName(), ifExists)
        }
        else if (p.tryKw("type")) {
          val ifExists = if (p.tryKw("if")) { p.eatKw("exists"); true } else false
          // userTypeName in the grammar is ks-qualifiable (Parser.g:1116)
          DropType(p.tableName(), ifExists)
        }
        else if (p.tryKw("function")) parseDropFunctionLike(p, agg = false)
        else if (p.tryKw("aggregate")) parseDropFunctionLike(p, agg = true)
        else { p.eatKw("table"); DropTable(p.tableName()) }
      }
      else parseDml(p)
    if (!p.done) throw ParseException(s"unexpected trailing input at ${p.peek.map(_.text).getOrElse("")}")
    (stmt, p.bindCount, p.bindNames)
  }

  /** dropFunctionStatement / dropAggregateStatement (Parser.g:233-249):
    * name plus an optional explicit argument-type signature.
    */
  private def parseDropFunctionLike(p: P, agg: Boolean): Statement = {
    val ifExists = if (p.tryKw("if")) { p.eatKw("exists"); true } else false
    // functionName is ks-qualifiable (Parser.g functionName rule)
    val name = p.tableName()
    val argTypes =
      if (p.trySym("(")) {
        var ts = Vector.empty[CqlType]
        if (!p.trySym(")")) {
          ts :+= parseType(p)
          while (p.trySym(",")) ts :+= parseType(p)
          p.sym(")")
        }
        Some(ts: Seq[CqlType])
      } else None
    if (agg) DropAggregate(name, argTypes, ifExists)
    else DropFunction(name, argTypes, ifExists)
  }

  /** `opt = literal [AND ...]` chains whose values we don't act on. */
  private def skipOptions(p: P): Unit = {
    var more = true
    while (more) {
      p.ident(); p.sym("=")
      anyLiteral(p)
      more = p.tryKw("and")
    }
  }

  /** alterTypeStatement (Parser.g:975-985). */
  private def parseAlterType(p: P): Statement = {
    val name = p.ident()
    if (p.tryKw("add")) {
      val f = p.ident()
      AlterType(name, Some(f -> parseType(p)))
    } else if (p.tryKw("rename")) {
      def one(): (String, String) = {
        val a = p.ident(); p.eatKw("to"); (a, p.ident())
      }
      var rs = Vector(one())
      while (p.tryKw("and")) rs :+= one()
      AlterType(name, None, renames = rs)
    } else if (p.tryKw("alter")) {
      p.ident(); p.eatKw("type"); parseType(p)
      AlterType(name, None, alterField = true)
    } else throw ParseException("expected ADD, RENAME or ALTER after ALTER TYPE <name>")
  }

  private def parseAlterTable(p: P): Statement = {
        p.eatKw("table")
        val n = p.tableName()
        if (p.tryKw("add")) {
          var adds = Vector(p.ident() -> parseType(p))
          while (p.trySym(",")) adds :+= (p.ident() -> parseType(p))
          AlterTable(n, adds, Seq.empty)
        } else if (p.tryKw("drop")) {
          var drops = Vector(p.ident())
          while (p.trySym(",")) drops :+= p.ident()
          AlterTable(n, Seq.empty, drops)
        } else if (p.tryKw("rename")) {
          def one(): (String, String) = {
            val a = p.ident(); p.eatKw("to"); (a, p.ident())
          }
          var rs = Vector(one())
          while (p.tryKw("and")) rs :+= one()
          AlterTable(n, Seq.empty, Seq.empty, renames = rs)
        } else if (p.tryKw("with")) {
          var dttl: Option[Long] = None
          var gc: Option[Long] = None
          var moreOpts = true
          while (moreOpts) {
            val opt = tableParam(p); p.sym("=")
            val v = anyLiteral(p)
            opt match {
              case "default_time_to_live" => v match {
                case IntLit(x) if x >= 0 => dttl = Some(x)
                case other => throw ParseException(s"Invalid default_time_to_live value $other")
              }
              case "gc_grace_seconds" => v match {
                case IntLit(x) if x >= 0 => gc = Some(x)
                case other => throw ParseException(s"Invalid gc_grace_seconds value $other")
              }
              case _ => ()
            }
            moreOpts = p.tryKw("and")
          }
          AlterTable(n, Seq.empty, Seq.empty, withDttl = dttl, withGc = gc)
        } else throw ParseException("expected ADD, DROP, RENAME or WITH in ALTER TABLE")
  }

  /** Recognized table/view params — TableParams.Option
    * (schema/TableParams.java:40-57) plus the ID keyword
    * (TableAttributes.java:41-51). Unknown names are rejected like the
    * reference's PropertyDefinitions.validate
    * (PropertyDefinitions.java:58) instead of being stored or silently
    * dropped (ADVICE r6: a typo like 'gc_graceseconds' must not succeed).
    */
  private val tableParams = Set(
    "bloom_filter_fp_chance", "caching", "comment", "compaction",
    "compression", "crc_check_chance", "default_time_to_live", "extensions",
    "gc_grace_seconds", "max_index_interval", "memtable_flush_period_in_ms",
    "min_index_interval", "speculative_retry", "additional_write_policy",
    "cdc", "read_repair", "id")
  private def tableParam(p: P): String = {
    val o = p.ident()
    if (!tableParams(o)) throw ParseException(s"Unknown property '$o'")
    o
  }

  private def parseDml(p: P): Statement =
    if (p.kw("truncate")) { p.eatKw("truncate"); p.tryKw("table"); Truncate(p.tableName()) }
    else if (p.kw("insert")) parseInsert(p)
    else if (p.kw("update")) parseUpdate(p)
    else if (p.kw("delete")) parseDelete(p)
    else if (p.kw("select")) parseSelect(p)
    else throw ParseException(
      s"unsupported statement: ${p.peek.map(_.text).getOrElse("<eof>")}")

  private[cql] val types: Map[String, CqlType] = Map(
    "int" -> CqlInt, "bigint" -> CqlBigint, "counter" -> CqlCounter,
    "smallint" -> CqlSmallint, "tinyint" -> CqlTinyint,
    "text" -> CqlText, "varchar" -> CqlText, "ascii" -> CqlAscii,
    "double" -> CqlDouble, "float" -> CqlFloat, "boolean" -> CqlBoolean,
    "decimal" -> CqlDecimal, "varint" -> CqlVarint,
    "timestamp" -> CqlTimestamp, "date" -> CqlDate, "time" -> CqlTime,
    "uuid" -> CqlUuid, "timeuuid" -> CqlTimeuuid,
    "blob" -> CqlBlob, "inet" -> CqlInet, "duration" -> CqlDuration)

  private def parseType(p: P): CqlType = {
    val tn = p.ident()
    tn match {
      case "list" => p.sym("<"); val e = parseType(p); p.sym(">"); CqlList(e)
      case "set" => p.sym("<"); val e = parseType(p); p.sym(">"); CqlSet(e)
      case "map" =>
        p.sym("<"); val k = parseType(p); p.sym(","); val v = parseType(p); p.sym(">")
        CqlMap(k, v)
      case "tuple" =>
        p.sym("<")
        var es = Vector(parseType(p))
        while (p.trySym(",")) es :+= parseType(p)
        p.sym(">")
        CqlTuple(es)
      case "frozen" => p.sym("<"); val e = parseType(p); p.sym(">"); e
      case other =>
        // user types may be keyspace-qualified (Parser.g userTypeName:
        // (ks '.')? non_type_ident)
        val full = if (p.trySym(".")) s"$other.${p.ident()}" else other
        types.get(full).orElse(p.udts.get(full)).getOrElse(
          throw ParseException(s"unsupported type $full (supported: ${types.keys.toSeq.sorted.mkString(", ")}, list<>, set<>, map<>, tuple<>, frozen<>, or a CREATEd TYPE)"))
    }
  }

  private def parseBatch(p: P): Statement = {
    p.eatKw("begin")
    p.tryKw("unlogged"); p.tryKw("logged"); p.tryKw("counter")
    p.eatKw("batch")
    var stmts = Vector.empty[Statement]
    while (!p.kw("apply")) {
      val inner =
        if (p.kw("insert")) parseInsert(p)
        else if (p.kw("update")) parseUpdate(p)
        else if (p.kw("delete")) parseDelete(p)
        else throw ParseException("batch statements must be INSERT/UPDATE/DELETE")
      stmts :+= inner
      p.trySym(";")
    }
    p.eatKw("apply"); p.eatKw("batch")
    Batch(stmts)
  }

  /** `PRIMARY KEY ((pk...), ck...)` | `PRIMARY KEY (pk, ck...)` */
  private def parsePkSpec(p: P): (Seq[String], Seq[String]) = {
    p.eatKw("primary"); p.eatKw("key"); p.sym("(")
    val pk =
      if (p.trySym("(")) {
        var ks = Vector(p.ident())
        while (p.trySym(",")) ks :+= p.ident()
        p.sym(")")
        ks
      } else Vector(p.ident())
    var cks = Vector.empty[String]
    while (p.trySym(",")) cks :+= p.ident()
    p.sym(")")
    (pk, cks)
  }

  private def parseClusteringOrder(p: P): Seq[Boolean] = {
    if (!p.tryKw("with")) return Seq.empty
    p.eatKw("clustering"); p.eatKw("order"); p.eatKw("by"); p.sym("(")
    var order = Vector.empty[Boolean]
    var f = true
    while (!p.trySym(")")) {
      if (!f) p.sym(","); f = false
      p.ident()
      order :+= (if (p.tryKw("desc")) true else { p.tryKw("asc"); false })
    }
    order
  }

  /** createIndexStatement (Parser.g:826-841): CREATE [CUSTOM] INDEX
    * [IF NOT EXISTS] [name] ON tbl (target, ...) [USING 'class']
    * [WITH OPTIONS = {...} [AND ...]].
    */
  private def parseCreateIndex(p: P, custom: Boolean): Statement = {
    val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
    val name = if (!p.kw("on")) Some(p.ident()) else None
    p.eatKw("on")
    val tbl = p.tableName()
    p.sym("(")
    var targets = Vector.empty[IndexTargetAst]
    var first = true
    while (!p.trySym(")")) {
      if (!first) p.sym(",")
      first = false
      targets :+= parseIndexTarget(p)
    }
    val usingClass = if (p.tryKw("using")) p.literal() match {
      case StringLit(s) => Some(s)
      case other => throw ParseException(s"expected index class string after USING, got $other")
    } else None
    var options = Map.empty[String, String]
    if (p.tryKw("with")) {
      var more = true
      while (more) {
        val prop = p.ident()
        p.sym("=")
        val v = anyLiteral(p)
        if (prop == "options") v match {
          case MapLit(pairs) => options ++= pairs.map {
            case (StringLit(k), StringLit(s)) => k -> s
            case (StringLit(k), IntLit(n)) => k -> n.toString
            case (StringLit(k), DoubleLit(d)) => k -> d.toString
            case (StringLit(k), BoolLit(b)) => k -> b.toString
            case (k, _) => throw ParseException(s"index OPTIONS keys must be string literals, got $k")
          }
          case SetLit(Seq()) => () // `{}` lexes as an empty set literal
          case other => throw ParseException(s"index OPTIONS must be a map literal, got $other")
        } // other index properties are accepted and ignored
        more = p.tryKw("and")
      }
    }
    CreateIndex(tbl, targets, name, ifNotExists, custom, usingClass, options)
  }

  /** indexIdent (Parser.g:843-849). */
  private def parseIndexTarget(p: P): IndexTargetAst = {
    val kinds = Set("keys", "values", "entries", "full")
    (p.peek, p.peekAt(1)) match {
      case (Some(Ident(t)), Some(Sym("("))) if kinds(t.toLowerCase) =>
        val k = p.ident(); p.sym("("); val c = p.ident(); p.sym(")")
        IndexTargetAst(c, k)
      case _ => IndexTargetAst(p.ident(), "simple")
    }
  }

  private def parseCreate(p: P): Statement = {
    p.eatKw("create")
    val orReplace = if (p.tryKw("or")) { p.eatKw("replace"); true } else false
    if (p.tryKw("function")) {
      val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
      val name = p.ident()
      p.sym("(")
      var args = Vector.empty[(String, CqlType)]
      var first = true
      while (!p.trySym(")")) {
        if (!first) p.sym(",")
        first = false
        val an = p.ident()
        args :+= (an -> parseType(p))
      }
      val returnsNull =
        if (p.tryKw("returns")) { p.eatKw("null"); p.eatKw("on"); p.eatKw("null"); p.eatKw("input"); true }
        else { p.eatKw("called"); p.eatKw("on"); p.eatKw("null"); p.eatKw("input"); false }
      p.eatKw("returns")
      val ret = parseType(p)
      p.eatKw("language")
      val lang = p.ident()
      p.eatKw("as")
      val body = p.literal() match {
        case StringLit(b) => b
        case other => throw ParseException(s"function body must be a string literal, got $other")
      }
      return CreateFunction(name, args, returnsNull, ret, lang, body, orReplace, ifNotExists)
    }
    if (p.tryKw("aggregate")) {
      val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
      val name = p.ident()
      p.sym("(")
      val argTypes = scala.collection.mutable.ArrayBuffer(parseType(p))
      while (p.trySym(",")) argTypes += parseType(p)
      p.sym(")")
      p.eatKw("sfunc")
      val sfunc = p.ident()
      p.eatKw("stype")
      val stype = parseType(p)
      val finalFunc = if (p.tryKw("finalfunc")) Some(p.ident()) else None
      val init = if (p.tryKw("initcond")) Some(anyLiteral(p)) else None
      return CreateAggregate(name, argTypes.toSeq, sfunc, stype, finalFunc, init, orReplace, ifNotExists)
    }
    if (orReplace) throw ParseException("OR REPLACE is only valid for functions and aggregates")
    if (p.tryKw("keyspace")) {
      val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
      val name = p.ident()
      // WITH replication = {...} [AND durable_writes = ...]: distribution
      // plumbing, parsed and ignored
      if (p.tryKw("with")) skipOptions(p)
      return CreateKeyspace(name, ifNotExists)
    }
    if (p.tryKw("materialized")) {
      p.eatKw("view")
      val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
      val name = p.tableName()
      p.eatKw("as")
      val sel = parseSelect(p) match {
        case s: Select => s
        case other => throw ParseException(s"expected SELECT in CREATE MATERIALIZED VIEW, got $other")
      }
      val (pk, ck) = parsePkSpec(p)
      val desc = parseClusteringOrder(p)
      return CreateView(name, sel.table, sel.selectors, sel.where, pk, ck,
        if (desc.nonEmpty) desc else ck.map(_ => false), ifNotExists)
    }
    if (p.tryKw("type")) {
      val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
      val name = p.ident()
      p.sym("(")
      var fields = Vector.empty[(String, CqlType)]
      var first = true
      while (!p.trySym(")")) {
        if (!first) p.sym(",")
        first = false
        val fn = p.ident()
        fields :+= (fn -> parseType(p))
      }
      return CreateType(CqlUdt(name, fields), ifNotExists)
    }
    if (p.tryKw("custom")) { p.eatKw("index"); return parseCreateIndex(p, custom = true) }
    if (p.tryKw("index")) return parseCreateIndex(p, custom = false)
    p.eatKw("table")
    val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
    val name = p.tableName()
    p.sym("(")
    var cols = Vector.empty[(String, CqlType)]
    var inlinePk = Vector.empty[String]
    var inlineStatic = Set.empty[String]
    var pkSpec: Option[(Seq[String], Seq[String])] = None
    var first = true
    while (!p.trySym(")")) {
      if (!first) p.sym(",")
      first = false
      if (p.kw("primary")) {
        p.eatKw("primary"); p.eatKw("key"); p.sym("(")
        val pk =
          if (p.trySym("(")) {
            var ks = Vector(p.ident())
            while (p.trySym(",")) ks :+= p.ident()
            p.sym(")")
            ks
          } else Vector(p.ident())
        var cks = Vector.empty[String]
        while (p.trySym(",")) cks :+= p.ident()
        p.sym(")")
        pkSpec = Some((pk, cks))
      } else {
        val cn = p.ident()
        val tpe = parseType(p)
        if (p.tryKw("static")) inlineStatic += cn
        if (p.tryKw("primary")) { p.eatKw("key"); inlinePk :+= cn }
        cols :+= (cn, tpe)
      }
    }
    var clusteringDesc = Seq.empty[Boolean]
    var defaultTtl = 0L
    var gcGrace = 864000L // TableParams.DEFAULT_GC_GRACE_SECONDS (10 days)
    // WITH clause: CLUSTERING ORDER BY and table options chained with AND
    // (Parser.g cfamProperty); default_time_to_live affects write semantics,
    // the remaining storage-tuning options parse and are ignored
    if (p.tryKw("with")) {
      var moreOpts = true
      while (moreOpts) {
        if (p.tryKw("clustering")) {
          p.eatKw("order"); p.eatKw("by"); p.sym("(")
          var order = Vector.empty[Boolean]
          var f = true
          while (!p.trySym(")")) {
            if (!f) p.sym(","); f = false
            p.ident()
            order :+= (if (p.tryKw("desc")) true else { p.tryKw("asc"); false })
          }
          clusteringDesc = order
        } else {
          val opt = tableParam(p)
          p.sym("=")
          val v = anyLiteral(p)
          opt match {
            case "default_time_to_live" => v match {
              case IntLit(n) =>
                if (n < 0) throw ParseException("default_time_to_live must be >= 0")
                defaultTtl = n
              case other => throw ParseException(s"Invalid default_time_to_live value $other")
            }
            case "gc_grace_seconds" => v match {
              case IntLit(n) =>
                if (n < 0) throw ParseException("gc_grace_seconds must be greater than or equal to 0")
                gcGrace = n
              case other => throw ParseException(s"Invalid gc_grace_seconds value $other")
            }
            case _ => () // comment / compaction / caching / ...
          }
        }
        moreOpts = p.tryKw("and")
      }
    }
    val (pk, ck) = pkSpec.getOrElse((inlinePk, Vector.empty[String]))
    if (pk.isEmpty) throw ParseException("No PRIMARY KEY specified")
    val defs = cols.map { case (cn, tpe) =>
      val kind =
        if (pk.contains(cn)) PartitionKey
        else if (ck.contains(cn)) Clustering
        else if (inlineStatic(cn)) Static
        else Regular
      ColumnDef(cn, tpe, kind)
    }
    // order clustering columns as declared in the PRIMARY KEY clause
    val ordered = defs.filter(_.kind == PartitionKey).sortBy(c => pk.indexOf(c.name)) ++
      defs.filter(_.kind == Clustering).sortBy(c => ck.indexOf(c.name)) ++
      defs.filter(c => c.kind == Static || c.kind == Regular)
    val desc = if (clusteringDesc.nonEmpty) clusteringDesc else ck.map(_ => false)
    CreateTable(TableDef(name, ordered, desc, defaultTtl, gcGraceSeconds = gcGrace),
      ifNotExists)
  }

  /** Scalar, collection, tuple or UDT literal. */
  private def anyLiteral(p: P): Literal = {
    if (p.trySym("[")) {
      var items = Vector.empty[Literal]
      if (!p.trySym("]")) {
        items :+= anyLiteral(p)
        while (p.trySym(",")) items :+= anyLiteral(p)
        p.sym("]")
      }
      ListLit(items)
    } else if (p.peek.exists { case Sym("(") => true; case _ => false }) {
      // (v1, v2, ...) tuple literal
      p.sym("(")
      var items = Vector(anyLiteral(p))
      while (p.trySym(",")) items :+= anyLiteral(p)
      p.sym(")")
      TupleLit(items)
    } else if (p.trySym("{")) {
      if (p.trySym("}")) SetLit(Seq.empty)
      else {
        // {ident: v} is a UDT literal (field names are identifiers, not
        // literals — Parser.g usertypeLiteral vs mapLiteral)
        val isUdt = (p.peek, p.peekAt(1)) match {
          case (Some(Ident(t)), Some(Sym(":"))) if !literalWords.contains(t.toLowerCase) => true
          case _ => false
        }
        if (isUdt) {
          var fields = Vector.empty[(String, Literal)]
          var first = true
          while (!p.trySym("}")) {
            if (!first) p.sym(",")
            first = false
            val f = p.ident(); p.sym(":")
            fields :+= (f -> anyLiteral(p))
          }
          UdtLit(fields)
        } else {
          val first = anyLiteral(p)
          if (p.trySym(":")) {
            var pairs = Vector(first -> anyLiteral(p))
            while (p.trySym(",")) {
              val k = anyLiteral(p); p.sym(":"); pairs :+= (k -> anyLiteral(p))
            }
            p.sym("}")
            MapLit(pairs)
          } else {
            var items = Vector(first)
            while (p.trySym(",")) items :+= anyLiteral(p)
            p.sym("}")
            SetLit(items)
          }
        }
      }
    } else p.literal()
  }

  private def parseUsing(p: P): (Option[Long], Option[Long]) = {
    var ttl: Option[Long] = None
    var ts: Option[Long] = None
    if (p.tryKw("using")) {
      var more = true
      while (more) {
        if (p.tryKw("ttl")) ttl = Some(p.long())
        else if (p.tryKw("timestamp")) ts = Some(p.long())
        else throw ParseException("expected TTL or TIMESTAMP after USING")
        more = p.tryKw("and")
      }
    }
    (ttl, ts)
  }

  private def parseInsert(p: P): Statement = {
    p.eatKw("insert"); p.eatKw("into")
    val name = p.tableName()
    if (p.tryKw("json")) {
      val js = p.literal() match {
        case StringLit(v) => v
        case other => throw ParseException(s"INSERT JSON expects a string literal, got $other")
      }
      // DEFAULT NULL (the reference default: omitted columns are deleted)
      // vs DEFAULT UNSET (omitted columns left untouched) — Parser.g
      // jsonInsertStatement
      val defaultUnset =
        if (p.tryKw("default")) {
          if (p.tryKw("unset")) true
          else { p.eatKw("null"); false }
        } else false
      val (jttl, jts) = parseUsing(p)
      return InsertJson(name, js, defaultUnset, jttl, jts)
    }
    p.sym("(")
    var cols = Vector(p.ident())
    while (p.trySym(",")) cols :+= p.ident()
    p.sym(")")
    p.eatKw("values"); p.sym("(")
    var vals = Vector(anyLiteral(p))
    while (p.trySym(",")) vals :+= anyLiteral(p)
    p.sym(")")
    // reference grammar order is IF NOT EXISTS then usingClause
    // (Parser.g normalInsertStatement:491-492); the reversed order is
    // accepted too as a harmless superset
    val (ttl0, ts0) = parseUsing(p)
    if (cols.length != vals.length)
      throw ParseException("Unmatched column names/values")
    val ifNotExists = if (p.tryKw("if")) { p.eatKw("not"); p.eatKw("exists"); true } else false
    val (ttl, ts) =
      if (ttl0.isEmpty && ts0.isEmpty) parseUsing(p) else (ttl0, ts0)
    Insert(name, cols, vals, ttl, ts, ifNotExists)
  }

  private def parseUpdate(p: P): Statement = {
    p.eatKw("update")
    val name = p.tableName()
    val (ttl, ts) = parseUsing(p)
    p.eatKw("set")
    var assigns = Vector.empty[(String, Literal)]
    var more = true
    while (more) {
      val c = p.ident()
      // c = c ± X and the += / -= shorthand share one lowering
      // (Parser.g shorthandColumnOperation → Operation.Addition/Substraction)
      def sign(sg: String): Unit = anyLiteral(p) match {
        case IntLit(n) => assigns :+= (c -> CounterDeltaLit(if (sg == "-") -n else n))
        case payload if sg == "+" => assigns :+= (c -> CollectionOpLit("addappend", payload))
        case payload => assigns :+= (c -> CollectionOpLit("remove", payload))
      }
      if (p.trySym("[")) {
        // element assignment m[k] = v → single-entry put
        val key = p.literal(); p.sym("]"); p.sym("=")
        assigns :+= (c -> CollectionOpLit("put", MapLit(Seq(key -> anyLiteral(p)))))
      } else if (p.trySym(".")) {
        // udtColumnOperation u.f = v: our UDTs are frozen-storage, which the
        // reference rejects for per-field writes
        val f = p.ident(); p.sym("="); anyLiteral(p)
        throw ParseException(
          s"Invalid operation ($c.$f = ...) for frozen UDT column $c (set the whole value)")
      } else if (p.trySym("+=")) sign("+")
      else if (p.trySym("-=")) sign("-")
      else {
        p.sym("=")
        if (p.tryKw(c)) {
          // c = c + X / c = c - X: counter delta or collection append/add/remove
          val sg = p.next().text
          if (sg != "+" && sg != "-")
            throw ParseException(s"expected + or - after column $c")
          sign(sg)
        } else {
          val first = anyLiteral(p)
          if (p.trySym("+")) {
            // X + c: list prepend
            p.eatKw(c)
            assigns :+= (c -> CollectionOpLit("prepend", first))
          } else assigns :+= (c -> first)
        }
      }
      more = p.trySym(",")
    }
    p.eatKw("where")
    val where = parseWhere(p)
    Update(name, assigns, where, ttl, ts, parseCondition(p))
  }

  private def parseCondition(p: P): Option[LwtCondition] = {
    if (!p.tryKw("if")) return None
    if (p.tryKw("exists")) return Some(IfExists)
    if (p.tryKw("not")) { p.eatKw("exists"); return Some(IfNotExists) }
    var conds = Vector.empty[(CondLhs, String, Seq[Literal])]
    var more = true
    while (more) {
      val c = p.ident()
      val lhs: CondLhs =
        if (p.trySym("[")) { val k = p.literal(); p.sym("]"); CondElem(c, k) }
        else if (p.trySym(".")) CondField(c, p.ident())
        else CondCol(c)
      if (p.tryKw("in")) {
        p.sym("(")
        var vs = Vector(p.literal())
        while (p.trySym(",")) vs :+= p.literal()
        p.sym(")")
        conds :+= ((lhs, "in", vs))
      } else {
        val op = p.next().text
        conds :+= ((lhs, op, Seq(p.literal())))
      }
      more = p.tryKw("and")
    }
    Some(IfColumns(conds))
  }

  private def parseDelete(p: P): Statement = {
    p.eatKw("delete")
    var cols = Vector.empty[String]
    var elementDeletes = Vector.empty[(String, Literal)]
    def deleteItem(): Unit = {
      val c = p.ident()
      if (p.trySym("[")) { val k = p.literal(); p.sym("]"); elementDeletes :+= (c -> k) }
      else cols :+= c
    }
    if (!p.kw("from")) {
      deleteItem()
      while (p.trySym(",")) deleteItem()
    }
    p.eatKw("from")
    val name = p.tableName()
    val (_, ts) = parseUsing(p)
    p.eatKw("where")
    val where = parseWhere(p)
    if (elementDeletes.nonEmpty) {
      // lower element deletes onto the UPDATE path as delkey ops
      val assigns = elementDeletes.map { case (c, k) =>
        c -> (CollectionOpLit("delkey", SetLit(Seq(k))): Literal)
      }
      if (cols.nonEmpty) throw ParseException("mixed element and column deletions unsupported")
      Update(name, assigns, where, None, ts, parseCondition(p))
    } else Delete(name, cols, where, ts, parseCondition(p))
  }

  private def parseWhere(p: P): Seq[Relation] = {
    var rels = Vector(parseRelation(p))
    while (p.tryKw("and")) rels :+= parseRelation(p)
    rels
  }

  private def parseRelation(p: P): Relation = {
    if (p.kw("token")) {
      p.eatKw("token"); p.sym("(")
      var cols = Vector(p.ident())
      while (p.trySym(",")) cols :+= p.ident()
      p.sym(")")
      val op = p.next().text
      TokenRel(cols, op, p.literal())
    } else if (p.peek.exists { case Sym("(") => true; case _ => false }) {
      // (c1, c2) op (v1, v2) — multi-column tuple relation
      p.sym("(")
      var cols = Vector(p.ident())
      while (p.trySym(",")) cols :+= p.ident()
      p.sym(")")
      val op = p.next().text
      if (!Set("=", "<", "<=", ">", ">=").contains(op))
        throw ParseException(s"unsupported multi-column operator $op")
      anyLiteral(p) match {
        case TupleLit(items) =>
          if (items.length != cols.length)
            throw ParseException(
              s"Expected ${cols.length} elements in value tuple, but got ${items.length}")
          MultiColRel(cols, op, items)
        case other => throw ParseException(s"expected tuple value, got $other")
      }
    } else {
      val c = p.ident()
      if (p.trySym("[")) {
        // m[k] = v map-entry restriction
        val key = p.literal()
        p.sym("]")
        p.sym("=")
        return MapEntryEq(c, key, p.literal())
      }
      if (p.tryKw("is")) {
        p.eatKw("not"); p.eatKw("null")
        return IsNotNull(c)
      }
      if (p.tryKw("contains")) {
        val isKey = p.tryKw("key")
        return Contains(c, p.literal(), isKey)
      }
      if (p.tryKw("like")) {
        p.literal() match {
          case StringLit(pat) => return Like(c, pat)
          case other => throw ParseException(s"LIKE pattern must be a string, got $other")
        }
      }
      if (p.tryKw("in")) {
        p.sym("(")
        var vals = Vector(p.literal())
        while (p.trySym(",")) vals :+= p.literal()
        p.sym(")")
        In(c, vals)
      } else {
        val op = p.next().text
        if (!Set("=", "<", "<=", ">", ">=", "!=").contains(op))
          throw ParseException(s"unsupported operator $op")
        Rel(c, op, anyLiteral(p))
      }
    }
  }

  // ── selection expression grammar (Parser.g:315-348 unaliasedSelector:
  // column | literal | fn(args) | cast(x AS t) | c[k] | arithmetic) ───────
  private def parseSelExpr(p: P): SelExpr = {
    var e = parseTerm(p)
    var cont = true
    while (cont) {
      if (p.trySym("+")) e = Arith("+", e, parseTerm(p))
      else if (p.trySym("-")) e = Arith("-", e, parseTerm(p))
      else cont = false
    }
    e
  }

  private def parseTerm(p: P): SelExpr = {
    var e = parseFactor(p)
    var cont = true
    while (cont) {
      if (p.trySym("*")) e = Arith("*", e, parseFactor(p))
      else if (p.trySym("/")) e = Arith("/", e, parseFactor(p))
      else if (p.trySym("%")) e = Arith("%", e, parseFactor(p))
      else cont = false
    }
    e
  }

  private def parseFactor(p: P): SelExpr =
    if (p.peek.exists { case Sym("-") => true; case _ => false }) {
      // lookahead: '-' directly before a number is a negative literal,
      // otherwise unary negation of the following factor
      p.sym("-")
      p.peek match {
        case Some(Num(_)) => LitRef(p.literal() match {
          case IntLit(v) => IntLit(-v)
          case DoubleLit(v) => DoubleLit(-v)
          case other => other
        })
        case _ => Neg(parseFactor(p))
      }
    } else parsePrimary(p)

  private val literalWords = Set("true", "false", "null")

  private def parsePrimary(p: P): SelExpr = p.peek match {
    case Some(Sym("(")) =>
      p.sym("(")
      // three "(": type hint (int)x, tuple constructor (a, b), grouping (e)
      val isTypeHint = (p.peek, p.peekAt(1)) match {
        case (Some(Ident(t)), Some(Sym(")"))) =>
          types.contains(t.toLowerCase) || p.udts.contains(t.toLowerCase)
        case _ => false
      }
      if (isTypeHint) {
        val tpe = parseType(p); p.sym(")")
        CastCall(parseFactor(p), tpe)
      } else {
        val e = parseSelExpr(p)
        if (p.trySym(",")) {
          var items = Vector(e, parseSelExpr(p))
          while (p.trySym(",")) items :+= parseSelExpr(p)
          p.sym(")")
          CollectionCtor("tuple", items)
        } else { p.sym(")"); e }
      }
    case Some(Sym("[")) =>
      p.sym("[")
      var items = Vector.empty[SelExpr]
      if (!p.trySym("]")) {
        items :+= parseSelExpr(p)
        while (p.trySym(",")) items :+= parseSelExpr(p)
        p.sym("]")
      }
      CollectionCtor("list", items)
    case Some(Sym("{")) =>
      p.sym("{")
      if (p.trySym("}")) CollectionCtor("set", Seq.empty)
      else {
        val first = parseSelExpr(p)
        if (p.trySym(":")) {
          var pairs = Vector(first -> parseSelExpr(p))
          while (p.trySym(",")) {
            val k = parseSelExpr(p); p.sym(":"); pairs :+= (k -> parseSelExpr(p))
          }
          p.sym("}")
          MapCtor(pairs)
        } else {
          var items = Vector(first)
          while (p.trySym(",")) items :+= parseSelExpr(p)
          p.sym("}")
          CollectionCtor("set", items)
        }
      }
    case Some(Ident(t)) if !literalWords.contains(t.toLowerCase) =>
      val id0 = p.ident()
      // `system.` function-namespace prefix (Parser.g functionName —
      // system.now(), system.floor(...), system.token(...))
      val id = if (id0 == "system" && p.trySym(".")) p.ident() else id0
      if (id == "cast" && p.trySym("(")) {
        val e = parseSelExpr(p)
        p.eatKw("as")
        val tpe = parseType(p)
        p.sym(")")
        CastCall(e, tpe)
      } else if (p.trySym("(")) {
        if (p.trySym("*")) { p.sym(")"); FnCall(id, Seq(StarRef)) }
        else if (p.trySym(")")) FnCall(id, Seq.empty)
        else {
          var args = Vector(parseSelExpr(p))
          while (p.trySym(",")) args :+= parseSelExpr(p)
          p.sym(")")
          FnCall(id, args)
        }
      } else if (p.trySym("[")) {
        // c[k] element, or c[a..b] / c[a..] / c[..b] slice
        if (p.trySym(".")) {
          p.sym(".")
          val to = p.literal(); p.sym("]")
          SliceRef(id, None, Some(to))
        } else {
          val key = p.literal()
          if (p.trySym(".")) {
            p.sym(".")
            if (p.trySym("]")) SliceRef(id, Some(key), None)
            else { val to = p.literal(); p.sym("]"); SliceRef(id, Some(key), Some(to)) }
          } else { p.sym("]"); ElementRef(id, key) }
        }
      } else if (p.trySym(".")) {
        val f2 = p.ident()
        if (p.trySym("(")) {
          // keyspace-qualified function call (Parser.g functionName:
          // (keyspaceName '.')? allowedFunctionName) — never ambiguous
          // with UDT field access, which is not followed by '('
          val fname = s"$id.$f2"
          if (p.trySym("*")) { p.sym(")"); FnCall(fname, Seq(StarRef)) }
          else if (p.trySym(")")) FnCall(fname, Seq.empty)
          else {
            var args = Vector(parseSelExpr(p))
            while (p.trySym(",")) args :+= parseSelExpr(p)
            p.sym(")")
            FnCall(fname, args)
          }
        } else FieldRef(id, f2)
      } else ColRef(id)
    case _ => LitRef(p.literal())
  }

  private def parseSelect(p: P): Statement = {
    p.eatKw("select")
    val json = p.tryKw("json")
    val distinct = p.tryKw("distinct")
    var sels = Vector.empty[Selector]
    if (p.trySym("*")) sels :+= Star
    else {
      var more = true
      while (more) {
        val e = parseSelExpr(p)
        sels :+= ExprSel(e, parseAlias(p))
        more = p.trySym(",")
      }
    }
    p.eatKw("from")
    val name = p.tableName()
    val where = if (p.tryKw("where")) parseWhere(p) else Seq.empty
    var groupBy = Vector.empty[GroupByEl]
    if (p.tryKw("group")) {
      p.eatKw("by")
      // element = ident | [system.]floor(col, duration [, start])
      def groupEl(): GroupByEl = {
        val first = p.ident()
        val fn = if (first == "system" && p.trySym(".")) p.ident() else first
        if (fn == "floor" && p.trySym("(")) {
          val c = p.ident()
          p.sym(",")
          val dur = p.literal()
          val start = if (p.trySym(",")) Some(p.literal()) else None
          p.sym(")")
          GroupByEl(c, floorDur = Some(dur), floorStart = start)
        } else GroupByEl(fn)
      }
      groupBy :+= groupEl()
      while (p.trySym(",")) groupBy :+= groupEl()
    }
    var orderBy = Vector.empty[(String, Boolean)]
    if (p.tryKw("order")) {
      p.eatKw("by")
      var more = true
      while (more) {
        val c = p.ident()
        val desc = if (p.tryKw("desc")) true else { p.tryKw("asc"); false }
        orderBy :+= (c -> desc)
        more = p.trySym(",")
      }
    }
    // LIMIT / PER PARTITION LIMIT are bind-able terms (Parser.g:280-281)
    var perPartitionLimit: Option[Literal] = None
    var limit: Option[Literal] = None
    if (p.tryKw("per")) {
      p.eatKw("partition"); p.eatKw("limit")
      perPartitionLimit = Some(p.literal())
    }
    if (p.tryKw("limit")) limit = Some(p.literal())
    val allowFiltering = if (p.tryKw("allow")) { p.eatKw("filtering"); true } else false
    Select(name, sels, distinct, where, groupBy, orderBy, perPartitionLimit,
      limit, allowFiltering, json)
  }

  private def parseAlias(p: P): Option[String] =
    if (p.tryKw("as")) Some(p.ident()) else None
}
