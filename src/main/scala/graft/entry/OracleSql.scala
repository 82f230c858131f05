package graft.entry

/** DuckDB twins of engine primitives that several oracles embed — one
  * copy each, so every oracle replays the same text. */
private[entry] object OracleSql {

  /** md5-derived 60-bit BIGINT — DuckDB twin of GraftFunctions.md5Long. */
  def sqlMd5Long(x: String): String =
    s"CAST('0x'||substring(md5($x),1,15) AS BIGINT)"

  /** Whitespace tokens (drop empties) — twin of GraftFunctions.tokens. */
  val sqlToks = "list_filter(string_split(text, ' '), t -> len(t) > 0)"

  /** The engine's İ/Σ-safe lowercase of `text` — twin of the folded
    * tokens' fold (GraftFunctions.tokensFolded). */
  val sqlFold = "lower(translate(text, 'İΣ', 'iσ'))"

  /** Whitespace tokens of the folded text. */
  val sqlFoldToks = s"list_filter(string_split($sqlFold, ' '), t -> len(t) > 0)"

  /** Cosine similarity in DOUBLE, index order, 0 on zero norm — bitwise
    * twin of the CosineSimilarity expression (no rounding on either side). */
  def sqlCos(a: String, b: String): String =
    s"""(CASE WHEN sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |            * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) = 0 THEN 0.0
       |       ELSE list_sum(list_transform(range(0, least(len($a), len($b))), i ->
       |              CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))
       |            / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |               * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) END)""".stripMargin
}
