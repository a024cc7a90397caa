package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-Scala scalar semantics that diverge from Spark built-ins and thus
  * need exact re-implementation (reference: /root/reference/etl_completo.py).
  *
  * These are plain functions so unit tests can exercise them without a
  * SparkSession; [[GraftFunctions]] lifts them into `Column`s.
  */
object PyText {

  /** Python `str.title()` parity (reference etl_completo.py:948).
    *
    * Python capitalizes the first cased character of every run of letters —
    * a letter following ANY non-letter is uppercased ("o'neil-x2y" →
    * "O'Neil-X2Y"), unlike Spark `initcap` which only splits on whitespace.
    */
  def title(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length)
    var prevCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        sb.append(if (prevCased) Character.toLowerCase(c) else Character.toTitleCase(c))
        prevCased = true
      } else {
        sb.append(c)
        prevCased = false
      }
      i += 1
    }
    sb.toString
  }

  /** F1 `clean_text` (etl_completo.py:940-949): falsy → "N/A"; strip, collapse
    * whitespace runs to one space, Python title-case.
    * Note: a whitespace-only input is truthy in Python, so it becomes "" (not
    * "N/A") — replicated here.
    */
  def cleanText(s: String): String = {
    if (s == null || s.isEmpty) return "N/A"
    title(s.trim.replaceAll("\\s+", " "))
  }

  /** Portuguese connectives kept lowercase by F2 (etl_completo.py:957). */
  val Conectores: Set[String] =
    Set("da", "de", "do", "das", "dos", "e", "em", "na", "no", "com")

  /** F2 `standardize_name` (etl_completo.py:951-968): title-case each
    * whitespace-separated word, but lowercase known connectives when not the
    * first word; null/""/"N/A" pass through unchanged.
    */
  def standardizeName(s: String): String = {
    if (s == null || s.isEmpty || s == "N/A") return s
    val words = s.split("\\s+").filter(_.nonEmpty)
    val out = new Array[String](words.length)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      out(i) = if (i == 0 || !Conectores.contains(w.toLowerCase)) title(w) else w.toLowerCase
      i += 1
    }
    out.mkString(" ")
  }

  /** F3 region fixup map (etl_completo.py:975-985), keyed on lower+strip. */
  val RegionMap: Map[String, String] = Map(
    "rio de janeiro" -> "Rio de Janeiro",
    "são paulo" -> "São Paulo",
    "minas gerais" -> "Minas Gerais",
    "mato grosso" -> "Mato Grosso",
    "mato grosso do sul" -> "Mato Grosso do Sul",
    "rio grande do sul" -> "Rio Grande do Sul",
    "rio grande do norte" -> "Rio Grande do Norte",
    "espírito santo" -> "Espírito Santo",
    "distrito federal" -> "Distrito Federal")

  /** F3 `standardize_region` (etl_completo.py:970-988): falsy → "Não
    * Definido"; lower+strip key into [[RegionMap]]; else Python title of the
    * ORIGINAL (unstripped) string — replicating the reference exactly.
    */
  def standardizeRegion(s: String): String = {
    if (s == null || s.isEmpty) return "Não Definido"
    RegionMap.getOrElse(s.toLowerCase.trim, title(s))
  }

  /** F4 Brazilian capital (city, UF) pairs (etl_completo.py:992-1000). */
  val Capitals: Map[String, String] = Map(
    "Rio Branco" -> "AC", "Maceió" -> "AL", "Macapá" -> "AP", "Manaus" -> "AM",
    "Salvador" -> "BA", "Fortaleza" -> "CE", "Brasília" -> "DF", "Vitória" -> "ES",
    "Goiânia" -> "GO", "São Luís" -> "MA", "Cuiabá" -> "MT", "Campo Grande" -> "MS",
    "Belo Horizonte" -> "MG", "Belém" -> "PA", "João Pessoa" -> "PB", "Curitiba" -> "PR",
    "Recife" -> "PE", "Teresina" -> "PI", "Rio de Janeiro" -> "RJ", "Natal" -> "RN",
    "Porto Alegre" -> "RS", "Porto Velho" -> "RO", "Boa Vista" -> "RR",
    "Florianópolis" -> "SC", "São Paulo" -> "SP", "Aracaju" -> "SE", "Palmas" -> "TO")

  /** F4 `is_capital` (etl_completo.py:990-1002): exact, case-sensitive match. */
  def isCapital(city: String, state: String): Boolean =
    city != null && state != null && Capitals.get(city).contains(state)
}

/** Column-level expression library — SURVEY.md §2.6 F1–F18 lifted to Spark.
  *
  * Everything expressible with `org.apache.spark.sql.functions` stays a
  * codegen'd Column combinator; only Python-`str.title()`-dependent pieces
  * (F1/F2/F3/F6) fall back to Scala UDFs ([[PyText]]).
  */
object GraftFunctions {

  // ---- Python title-case parity (SURVEY §7.4) — native codegen
  // expressions ([[PyTextExpressions]], r7: formerly Scala UDFs). The
  // expressions are null-propagating; the reference's null → sentinel
  // branches live here as codegen'd `when`s.

  /** F1 clean_text as a Column (null → "N/A", like the Python falsy test). */
  def cleanText(c: Column): Column =
    when(c.isNull, lit("N/A")).otherwise(PyTextExpressions.pyCleanText(c))

  /** F2 standardize_name as a Column (null passes through, as in Python). */
  def standardizeName(c: Column): Column = PyTextExpressions.pyStandardizeName(c)

  /** F3 standardize_region as a Column (null → "Não Definido"). */
  def standardizeRegion(c: Column): Column =
    when(c.isNull, lit("Não Definido")).otherwise(PyTextExpressions.pyStandardizeRegion(c))

  /** F6 standardize_product_category (etl_completo.py:1019-1024). */
  def standardizeProductCategory(c: Column): Column =
    when(c.isNull || c === "", lit("Não Definido"))
      .otherwise(PyTextExpressions.pyTitle(c))

  // ---- Pure built-in combinators (codegen-friendly) -----------------------

  private def falsy(c: Column): Column = c.isNull || c === ""

  /** F4 is_capital (etl_completo.py:990-1002) as a when-chain over the 27
    * literal pairs — fully codegen'd, no UDF. Inputs are the already-cleaned
    * city/state (reference passes `cidade_clean`, `estado_clean`).
    */
  def isCapital(city: Column, state: Column): Column =
    PyText.Capitals.foldLeft(lit(false)) { case (acc, (ct, uf)) =>
      acc || (city === ct && state === uf)
    }

  /** F5 standardize_customer_category (etl_completo.py:1004-1017). */
  def standardizeCustomerCategory(c: Column): Column = {
    val lc = lower(c)
    when(falsy(c), "Não Definido")
      .when(lc.contains("vip") || lc.contains("premium"), "Premium")
      .when(lc.contains("gold") || lc.contains("ouro"), "Gold")
      .when(lc.contains("silver") || lc.contains("prata"), "Silver")
      .otherwise("Padrão")
  }

  /** F7 classify_store_type (etl_completo.py:1026-1039). */
  def classifyStoreType(c: Column): Column = {
    val lc = lower(c)
    when(falsy(c), "Loja Padrão")
      .when(lc.contains("shopping") || lc.contains("mall"), "Shopping")
      .when(lc.contains("centro"), "Centro")
      .when(lc.contains("outlet"), "Outlet")
      .otherwise("Loja Padrão")
  }

  /** F8 classify_promotion_type (etl_completo.py:1041-1054). */
  def classifyPromotionType(c: Column): Column = {
    val lc = lower(c)
    when(falsy(c), "Desconto Geral")
      .when(lc.contains("black"), "Black Friday")
      .when(lc.contains("natal"), "Natal")
      .when(lc.contains("liquidação"), "Liquidação")
      .otherwise("Desconto Geral")
  }

  /** F9 percent extraction (etl_completo.py:731-740): first decimal number in
    * the text via `(\d+(?:\.\d+)?)`, else 0.0. `regexp_extract` yields "" on
    * no-match → `try_cast` null (under any `spark.sql.ansi.enabled`) →
    * coalesce 0.0.
    */
  def extractPercent(c: Column): Column =
    coalesce(regexp_extract(c, "(\\d+(?:\\.\\d+)?)", 1).try_cast("double"), lit(0.0))

  // ---- F13 tri-state date handling (etl_completo.py:615-635) --------------

  /** Date sentinels treated as NULL-ish (etl_completo.py:615,746). */
  val DateSentinels: Seq[String] = Seq("Data Inválida", "N/A", "NULL", "")

  def isDateSentinel(c: Column): Column = c.isNull || c.isin(DateSentinels: _*)

  private def charCount(c: Column, ch: String): Column =
    // literal StringReplace, NOT regexp_replace (r18, guide step-2 per-task
    // work): the value is identical — the count of a literal character —
    // but the regex form compiled+ran a java.util.regex matcher per row per
    // shape guard, and the fact pipeline evaluates SIX of these per item
    // row (keepRowForDate's two shapes in the filter + parseMultiFormatDate
    // re-deriving them in the projection). Measured at sf0.1: the fused
    // fact stage's summed task time 34.7 s → (see OPTIMIZATION_r18.md).
    length(c) - length(replace(c, lit(ch), lit("")))

  /** Shape guards: exactly 10 chars and exactly two of the separator. */
  private def dashShape(c: Column): Column = length(c) === 10 && charCount(c, "-") === 2
  private def slashShape(c: Column): Column = length(c) === 10 && charCount(c, "/") === 2

  /** F13 parse result: `yyyy-MM-dd` / `dd/MM/yyyy` by shape, null otherwise.
    * `try_to_date` is null on a parse failure under any
    * `spark.sql.ansi.enabled`; with ANSI off it is the same expression as
    * `to_date`.
    */
  def parseMultiFormatDate(c: Column): Column =
    when(isDateSentinel(c), lit(null).cast("date"))
      .when(dashShape(c), try_to_date(c, "yyyy-MM-dd"))
      .when(slashShape(c), try_to_date(c, "dd/MM/yyyy"))

  /** F13 keep-row predicate: sentinels/null KEEP the row (with null date);
    * a well-shaped parseable string keeps it; anything else (bad shape or
    * parse failure) DROPS the row — the `continue` at etl_completo.py:629,635.
    */
  def keepRowForDate(c: Column): Column =
    isDateSentinel(c) ||
      (dashShape(c) && try_to_date(c, "yyyy-MM-dd").isNotNull) ||
      (slashShape(c) && try_to_date(c, "dd/MM/yyyy").isNotNull)

  /** P8 sentinel-to-null (promo dates, etl_completo.py:746-750): sentinel →
    * null, otherwise the raw value is kept as-is (reference stores the raw
    * string into a DATE column; we parse with the same two formats).
    */
  def sentinelToNullDate(c: Column): Column =
    when(isDateSentinel(c), lit(null).cast("date"))
      .otherwise(coalesce(try_to_date(c, "yyyy-MM-dd"), try_to_date(c, "dd/MM/yyyy")))

  // ---- F12 numeric guards (etl_completo.py:666-668,886-887) ---------------

  /** `float(x) if x and x > 0 else 0.0` */
  def positiveOrZero(c: Column): Column =
    when(c.isNotNull && c > 0, c.cast("double")).otherwise(0.0)

  // ---- cross-engine-stable aggregates --------------------------------------

  /** Order-independent AVG over a money-like double column: exact
    * decimal(18,2) summation (associative, engine-ordering-proof) divided by
    * the non-null count. Used wherever an aggregate feeds oracle-compared
    * output — plain double `avg` differs across engines in the last ULP
    * because summation order differs, which flips `round()` at boundaries.
    */
  def stableAvg2(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(c)

  /** Order-independent SUM of a money-like double (exact 2-dec values). */
  def stableSum2(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Deterministic cross-engine rounding: `floor(x·10ⁿ + 0.5)/10ⁿ` is the
    * same IEEE op sequence in any engine, unlike `round()` whose half-way
    * handling is implementation-defined (Spark: exact-BigDecimal HALF_UP;
    * DuckDB: scaled `std::round`). Used only in oracle-compared projections.
    */
  def detRound(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    // Spark floor(DOUBLE) returns LONG and wraps at 2^63 (same class as the
    // stableSumScaled r16 sf100 saturation). Above 2^53 the scaled double is
    // already integral — floor is a no-op — so keep the value in the double
    // domain there, exactly as the DuckDB mirror (detRoundSql floors in
    // DOUBLE at every magnitude). Below 2^53 floor's LONG is exact and the
    // LONG/f division promotes losslessly — bit-identical to the old path.
    val w = c * f + 0.5
    when(abs(w) >= Two53, w).otherwise(floor(w).cast("double")) / f
  }

  /** Order-independent SUM of per-row doubles, deterministically quantized
    * to `scale` decimals first. The floored values are integral, so the sum
    * is exact (associative) in both engines up to 2^53.
    */
  def stableSumScaled(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    // Sum the quantized integers as DECIMAL(38,0), not LONG (r12, caught by
    // the full-surface sf1 oracle): second-moment sums (x² at scale 0) wrap
    // int64 one decade up — sf1 daily-revenue squares are ~8.8e15 each over
    // ~2400 groups ≈ 2.1e19 > 2^63 — and the wrapped negative reaches
    // sqrt → NaN → floor-cast → a silent exact 0.0 where the true
    // correlation is 0.0258. The per-row floor value is a double both
    // engines compute identically; the DECIMAL sum is exact to 1e38 and its
    // final double conversion is correctly rounded — bit-identical to the
    // old path wherever the old path didn't wrap. Oracle mirror sums
    // HUGEINT (stableSumScaledSql) for the same exactness.
    //
    // The PER-ROW value must also never pass through LONG (r16, caught by
    // the full-surface sf100 sweep): Spark's floor(DOUBLE) returns LONG, so
    // a row with |c·f| ≥ 2^63 saturates at Long.Max BEFORE the decimal sum —
    // sf100 daily-revenue squares are ~8.8e19 each, so every q_autocorr row
    // collapsed to n·Long.Max and the correlation read an exact 0.0. Above
    // 2^53 a double is already integral, so floor is a no-op there: cast the
    // pre-floor double straight to DECIMAL(38,0) (exact for an integral
    // double up to 1e38); below 2^53 floor's LONG is exact. This matches
    // DuckDB's floor(DOUBLE)→DOUBLE→HUGEINT at every magnitude and is
    // bit-identical to the old path wherever the old path didn't saturate.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = c * f + 0.5
    val quantized = when(abs(w) >= Two53, w.cast(d38))
      .otherwise(floor(w).cast(d38))
    sum(quantized).cast("double") / f
  }

  /** 2^53 — the magnitude above which every IEEE double is integral (and
    * above which floor(DOUBLE)'s LONG result may wrap at 2^63).
    */
  private val Two53: Double = 9007199254740992.0

  // ---- F15 calendar attributes (etl_completo.py:780-799) ------------------

  /** Portuguese day names, Monday-first (etl_completo.py:787). */
  val NomesDiaSemana: Seq[String] =
    Seq("Segunda", "Terça", "Quarta", "Quinta", "Sexta", "Sábado", "Domingo")

  /** Portuguese month names (etl_completo.py:788-789). */
  val NomesMes: Seq[String] = Seq(
    "Janeiro", "Fevereiro", "Março", "Abril", "Maio", "Junho",
    "Julho", "Agosto", "Setembro", "Outubro", "Novembro", "Dezembro")

  /** ISO weekday 1=Monday..7=Sunday (Python `weekday()+1`, :786).
    * Spark `weekday` is 0=Monday..6=Sunday.
    */
  def diaSemana(c: Column): Column = weekday(c) + 1

  /** Literal-array lookup, NOT `date_format` (locale-dependent) — SURVEY F15. */
  def nomeDiaSemana(c: Column): Column =
    element_at(array(NomesDiaSemana.map(lit): _*), diaSemana(c))

  def nomeMes(c: Column): Column =
    element_at(array(NomesMes.map(lit): _*), month(c))

  def semestre(c: Column): Column = when(month(c) <= 6, 1).otherwise(2)

  def ehFimSemana(c: Column): Column = diaSemana(c).isin(6, 7)
}
