package graft.operators

import graft.model.{CondValue, Condition}

/** Display rendering of a base rule as the REFERENCE's catalog SQL text
  * (reference: backend/app/utils/rule_parser.py:96-137 `generate_segment_sql`
  * and :22-94 `_parse_to_clauses`). The reference stores this generated
  * string in `segment_catalog.sql_query`; this engine never EXECUTES it —
  * conditions compile to Column expressions ([[ConditionCompiler]]), the
  * SQL-string IR and its injection hazards are deliberately not reproduced
  * as an execution path (SURVEY §7.1) — but a catalog listing should
  * round-trip the same display text a reference user sees. Compound rules
  * store the `COMPOUND_OPERATION:<op>` sentinel instead
  * (written by [[SegmentRunner.createRule]] and `updateRule`, rules.py:211).
  *
  * Faithfulness notes (all pinned in SegmentRunnerSpec):
  *  - the reference collapses ALL whitespace of its template to single
  *    spaces (`" ".join(sql.split())`), so the stored text is one line;
  *  - malformed conditions are skipped silently with the same rules the
  *    compiler applies (Q10): empty field/operator, missing value,
  *    non-whitelisted operator, unknown field, BETWEEN without value2,
  *    IN/NOT IN without a non-empty list;
  *  - scalar values render single-quoted (the reference receives JSON
  *    strings and quotes them — the stringly-typed Q2 quirk made visible);
  *  - aggregate fields rewrite to `SUM(amount)` / `COUNT(user_id)` and
  *    route to HAVING.
  */
object ReferenceSql {

  private val fieldToColumn = Map(
    "transaction_amount" -> "amount",
    "city_tier"          -> "city_tier",
    "transaction_date"   -> "transaction_date",
    "total_spend"        -> "total_spent",
    "transaction_count"  -> "total_transactions")

  private val aggregateFields = Set("total_spend", "transaction_count")

  private val allowedOperators = Set(
    ">", "<", "=", ">=", "<=", "!=", "IN", "NOT IN", "BETWEEN")

  private val template =
    """WITH all_transactions AS (
      |  SELECT user_id, amount, transaction_date, category, city_tier, 'UPI' as transaction_type
      |  FROM upi_transactions_raw
      |  UNION ALL
      |  SELECT user_id, amount, transaction_date, category, city_tier, 'CREDIT_CARD' as transaction_type
      |  FROM credit_card_transactions_raw
      |),
      |filtered_transactions AS (
      |  SELECT * FROM all_transactions {where_clause}
      |)
      |SELECT ft.user_id, COUNT(ft.user_id) as total_transactions,
      |  SUM(ft.amount) as total_spent,
      |  GROUP_CONCAT(DISTINCT ft.transaction_type) as transaction_types
      |FROM filtered_transactions ft GROUP BY ft.user_id {having_clause}""".stripMargin

  /** The one-line catalog display string for a base rule's conditions. */
  def generateSegmentSql(conditions: Seq[Condition]): String = {
    val (where, having) = toClauses(conditions)
    val whereClause = if (where.nonEmpty) "WHERE " + where.mkString(" AND ") else ""
    val havingClause = if (having.nonEmpty) "HAVING " + having.mkString(" AND ") else ""
    template
      .replace("{where_clause}", whereClause)
      .replace("{having_clause}", havingClause)
      .split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  private def toClauses(conditions: Seq[Condition]): (Seq[String], Seq[String]) = {
    val where = Seq.newBuilder[String]
    val having = Seq.newBuilder[String]
    for (c <- conditions) {
      // uppercase ONLY — the reference's allowed-operator check
      // (rule_parser.py:51) does `operator.upper() not in allowed` with no
      // trim/collapse, so 'NOT  IN' (double space) must skip here exactly
      // as it skips there (and as CondOp.parse skips it in execution)
      val op = Option(c.operator).map(_.toUpperCase).getOrElse("")
      val fieldOk = c.field != null && c.field.nonEmpty && op.nonEmpty
      if (fieldOk && allowedOperators.contains(op)) {
        fieldToColumn.get(c.field).foreach { column =>
          // the rendered right-hand side, shared by the plain clause and the
          // aggregate rewrite (None = malformed shape, silent skip)
          val rhs: Option[String] = op match {
            case "BETWEEN" => (c.value, c.value2) match {
              case (CondValue.One(v), Some(v2)) => Some(s"'$v' AND '$v2'")
              case _                            => None // missing second value
            }
            case "IN" | "NOT IN" => c.value match {
              case CondValue.Many(vs) if vs.nonEmpty =>
                Some("(" + vs.map(v => s"'$v'").mkString(", ") + ")")
              case _ => None // non-list or empty
            }
            case _ => c.value match {
              case CondValue.One(v) => Some(s"'$v'")
              case _                => None
            }
          }
          rhs.foreach { r =>
            if (aggregateFields.contains(c.field)) {
              // documented deviation: the reference's rewrite references an
              // unassigned local for aggregate BETWEEN and raises (a 500);
              // rendering the BETWEEN bounds is the evident intent
              val lhs = if (c.field == "total_spend") "SUM(amount)" else "COUNT(user_id)"
              having += s"$lhs $op $r"
            } else where += s"$column $op $r"
          }
        }
      }
    }
    (where.result(), having.result())
  }
}
