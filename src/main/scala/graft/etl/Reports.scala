package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three fraud reports (`main.py:397-467`), as composable DataFrame
  * programs over the warehouse dims/facts.
  *
  * Fidelity notes (SURVEY §2.3-§2.6, §2.8):
  *  - `fio = last_name || ' ' || first_name || ' ' || patronymic` must
  *    null-propagate like PG `||` — Spark `concat` does, `concat_ws`
  *    would not (main.py:401).
  *  - Reports №1/№2 join cards on `trim()`ed card numbers (outer spaces
  *    only), №3 on `replace(card_num,' ','')` (ALL spaces) — an
  *    inconsistency the reference carries (main.py:407 vs 458) and we
  *    preserve. Because №1 and №2 run the same chain, [[fraudReports]]
  *    (the nightly run's builder) runs it once and tags each joined row
  *    with the reports it belongs to; the per-report functions stay,
  *    built from the same chain and predicates.
  *  - `report_dt = to_date(to_char(ts,'YYYY-MM-DD'),…)` is a
  *    day-truncation roundtrip → midnight timestamp (main.py:404).
  *  - Report №1's predicate is `WHERE 1=1 or …` — a tautology
  *    (main.py:412-414): EVERY transaction is flagged. `Faithful` mode
  *    reproduces it; `Corrected` implements the documented intent
  *    (readme.md:23): expired (`valid_to < trans_date`, non-null) OR
  *    blacklisted passport.
  *
  * Scale: dims are orders of magnitude smaller than the fact table, so
  * every dim side is `broadcast()` — the fact table never shuffles for
  * the report joins. Report №3's window shuffles the fact table once, by
  * `card_num`.
  */
object Reports {
  sealed trait Mode
  case object Faithful extends Mode
  case object Corrected extends Mode

  private def fio: Column =
    concat(col("last_name"), lit(" "), col("first_name"), lit(" "), col("patronymic"))

  private def reportCols(eventType: Column): Seq[Column] = Seq(
    col("trans_date").as("event_dt"),
    col("passport_num").as("passport"),
    fio.as("fio"),
    col("phone"),
    eventType.as("event_type"),
    to_date(col("trans_date")).cast("timestamp").as("report_dt"))

  /** fact →(trim keys)→ cards → accounts → clients, the №1/№2 join chain
    * (main.py:405-411). `cardKey` parameterizes the №3 variant.
    */
  private def chain(fact: DataFrame, cards: DataFrame, accounts: DataFrame,
                    clients: DataFrame, cardKey: Column => Column): DataFrame =
    fact.alias("ft")
      .join(broadcast(cards.alias("dc")),
        cardKey(col("ft.card_num")) === cardKey(col("dc.card_num")), "left")
      .join(broadcast(accounts.alias("da")),
        col("dc.account_num") === col("da.account_num"), "left")
      .join(broadcast(clients.alias("dcl")),
        col("da.client") === col("dcl.client_id"), "left")

  /** The №1 input and predicate over the №1/№2 chain `joined`:
    * `None` in Faithful mode, where the predicate is `WHERE 1=1 or …`, a
    * tautology (P6). In Corrected mode, the intent: expired, or passport
    * present in the blacklist fact. PG `IN (subquery)` never matches
    * NULL passports, and a broadcast left join on the distinct non-null
    * blacklist passports flags exactly those rows without duplicating
    * any.
    */
  private def expiredPassport(joined: DataFrame, blacklist: DataFrame,
                              mode: Mode): (DataFrame, Option[Column]) = mode match {
    case Faithful => (joined, None)
    case Corrected =>
      val black = blacklist.select(col("passport_num").as("__bl_passport"))
        .filter(col("__bl_passport").isNotNull).distinct()
      (joined.join(broadcast(black), col("dcl.passport_num") === col("__bl_passport"), "left"),
        Some((col("dcl.passport_valid_to") < col("ft.trans_date")
          && col("dcl.passport_valid_to").isNotNull)
          || col("__bl_passport").isNotNull))
  }

  /** The №2 predicate: an inactive contract. */
  private def inactiveAccount: Column = col("da.valid_to") < col("ft.trans_date")

  /** №1 — operation with an expired or blacklisted passport
    * (main.py:397-415).
    */
  def fraudExpiredPassport(fact: DataFrame, cards: DataFrame, accounts: DataFrame,
                           clients: DataFrame, blacklist: DataFrame,
                           mode: Mode): DataFrame = {
    val (joined, expired) =
      expiredPassport(chain(fact, cards, accounts, clients, trim(_)), blacklist, mode)
    expired.fold(joined)(c => joined.filter(c)).select(reportCols(lit("1")): _*)
  }

  /** №2 — operation on an inactive contract: `da.valid_to < trans_date`
    * (main.py:418-434).
    */
  def fraudInactiveAccount(fact: DataFrame, cards: DataFrame, accounts: DataFrame,
                           clients: DataFrame): DataFrame =
    chain(fact, cards, accounts, clients, trim(_))
      .filter(inactiveAccount)
      .select(reportCols(lit("2")): _*)

  /** The three reports as one frame, what the nightly run appends to
    * `rep_fraud` (main.py:397-467). №1 and №2 come from ONE pass of
    * their shared chain: each joined row emits event type "1" where the
    * №1 predicate holds and "2" where the №2 predicate holds (a NULL
    * predicate emits nothing, as a filter drops it), through `explode`
    * of the tags that are set. №3 is [[fraudCityHopping]]. Equals
    * `fraudExpiredPassport ∪ fraudInactiveAccount ∪ fraudCityHopping`
    * as a multiset.
    */
  def fraudReports(fact: DataFrame, cards: DataFrame, accounts: DataFrame,
                   clients: DataFrame, terminals: DataFrame, blacklist: DataFrame,
                   mode: Mode): DataFrame = {
    val (joined, expired) =
      expiredPassport(chain(fact, cards, accounts, clients, trim(_)), blacklist, mode)
    val tags = array(when(expired.getOrElse(lit(true)), lit("1")),
      when(inactiveAccount, lit("2")))
    joined.select(reportCols(explode(filter(tags, _.isNotNull))): _*)
      .unionByName(fraudCityHopping(fact, cards, terminals, accounts, clients))
  }

  /** №3 — operations in different cities within one hour
    * (main.py:437-467): a lag window over (card, time), then a semi-join
    * back onto the fact table with space-stripped card keys.
    *
    * The reference orders the window by `trans_date` alone; PG leaves
    * same-second ties nondeterministic. We add `trans_id` as a tiebreak
    * for reproducibility (documented deviation).
    */
  def fraudCityHopping(fact: DataFrame, cards: DataFrame, terminals: DataFrame,
                       accounts: DataFrame, clients: DataFrame): DataFrame = {
    val w = Window.partitionBy("dim_card").orderBy("trans_date", "trans_id")
    val pre = fact.alias("ft")
      .join(broadcast(cards.alias("dc")),
        trim(col("ft.card_num")) === trim(col("dc.card_num")), "left")
      .join(broadcast(terminals.alias("dt")),
        col("ft.terminal") === col("dt.terminal_id"), "left")
      .select(col("ft.trans_id"), col("ft.trans_date"),
        col("dt.terminal_city"), col("dc.card_num").as("dim_card"))
      // both lags in one select → a single Window exec (one shuffle+sort)
      .select(col("trans_id"), col("terminal_city"),
        lag("terminal_city", 1).over(w).as("prev_city"),
        ((unix_timestamp(col("trans_date")) -
          lag(unix_timestamp(col("trans_date")), 1).over(w))
          .cast("double") / 3600.0).as("hours"))
    val flagged = pre
      .filter(col("terminal_city") =!= col("prev_city") && col("hours") < 1.0)
      .select("trans_id")
    chain(fact, cards, accounts, clients,
      c => regexp_replace(c, " ", ""))
      .join(broadcast(flagged.withColumnRenamed("trans_id", "__flag_id")),
        col("ft.trans_id") === col("__flag_id"), "left_semi")
      .select(reportCols(lit("3")): _*)
  }
}
