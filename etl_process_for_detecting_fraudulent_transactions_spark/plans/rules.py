"""The four fraud-rule queries as pure DataFrame transforms (SURVEY §2.9).

Each rule takes the day's typed DataFrames and returns report-shaped rows
(event_dt, passport, fio, phone, event_type) — lazy plans; the caller appends
them to REP_FRAUD with a stamped report_dt.

One lookup chain per day. Every rule reduces to events ``(card_num,
event_dt, event_type)`` run through ONE left chain card → account → client
(``fraud_rows``): each transaction once with a NULL type (the Q1/Q2
candidates), Q3's per-card maximum and Q4's hits with their own types. The
account side carries ``account_expired`` (Q2) and the client side
``passport_invalid`` (Q1); one generator then emits ``passport_fraud``,
``account_fraud`` or the event's type. A set flag implies that every hop up
to it matched, so emitting a row only for a set flag reproduces Q1's and
Q2's inner joins, duplicate dimension keys included. ``run_day`` unions the
day's events and runs the chain once; each public rule is the same chain
over its own events with only its own flag set, so every rule predicate has
one copy.

Scale notes: all dims (cards/accounts/clients/blacklist/terminals-hist) are
small relative to the fact. The seed dims and the blacklist arrive as local
relations (``sources.local.local_frame``) whose size stats let the planner
broadcast them; the card→account→client lookups and Q1's blacklist EXISTS
test (a broadcast existence join) carry no hint, while the terminals-hist
lookup adds an explicit ``broadcast`` — on a 1000-executor cluster the fact
never shuffles for these joins. The only fact shuffles are Q3's and Q4's
per-card windows: each has exactly one ``card_num`` exchange, over its own
input (Q3 every transaction, Q4 the PAYMENT/WITHDRAW rows), and neither
broadcasts anything fact-sized. AQE handles hot-card skew.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.casts import fio_concat, int_amount, minutes_between
from ..operators.scd2 import current_view


def flagged_accounts(accounts: DataFrame, run_date: _dt.date | None = None) -> DataFrame:
    """The account hop's side. With ``run_date`` it adds ``account_expired``:
    expired strictly before run_date (Q2, rep_fraud.py:59-106); NULL
    valid_to never expires."""
    cols = [F.col("account_num"), F.col("client")]
    if run_date is not None:
        cols.append((F.lit(run_date) > F.col("valid_to")).alias("account_expired"))
    return accounts.select(cols)


def flagged_clients(clients: DataFrame, blacklist: DataFrame | None = None,
                    run_date: _dt.date | None = None) -> DataFrame:
    """The client hop's side. With ``blacklist`` and ``run_date`` it adds
    ``passport_invalid``: the passport expired strictly before run_date or
    is blacklisted (Q1, rep_fraud.py:6-55).

    Blacklist membership deliberately ignores entry_dt (cumulative file ⇒
    membership test, SURVEY §2.2 P3). Strict ``>``: a passport expiring ON
    run_date is still valid. NULL passport_valid_to never matches.
    """
    cols = [
        F.col("client_id"),
        F.col("passport_num"),
        fio_concat("last_name", "first_name", "patrinymic").alias("fio"),
        F.col("phone"),
    ]
    if blacklist is not None:
        # an EXISTS, OR-ed with the expiry test, plans as a broadcast
        # ExistenceJoin: a blacklist that lists a passport twice still
        # yields one client row
        listed = blacklist.alias("b").where(
            F.col("b.passport_num") == F.col("c.passport_num").outer()
        ).exists()
        cols.append(((F.lit(run_date) > F.col("c.passport_valid_to")) | listed).alias("passport_invalid"))
    return clients.alias("c").select(cols)


def transaction_events(transactions: DataFrame) -> DataFrame:
    """Every transaction once, with a NULL event type: the Q1/Q2 candidates."""
    return transactions.select(
        "card_num", F.col("trans_date").alias("event_dt"), F.lit(None).cast("string").alias("event_type")
    )


def fraud_rows(events: DataFrame, cards: DataFrame, accounts: DataFrame, clients: DataFrame) -> DataFrame:
    """Report rows for ``events`` through the identity chain card → account
    → client, every hop left (rep_fraud.py:81-98, 151-165, 229-242).
    ``accounts`` and ``clients`` come from ``flagged_accounts`` and
    ``flagged_clients``. A typed event yields one row of its type; a
    candidate (NULL type) yields ``passport_fraud`` if its client's passport
    is invalid and ``account_fraud`` if its account is expired. A side built
    without its flag never sets it; the flag is then a constant the
    optimizer folds away, so a single rule's sides stay plain enough to
    share their broadcasts with the other rules."""
    def flag(side: DataFrame, name: str):
        return F.col(name) if name in side.columns else F.lit(False)

    types = F.when(F.col("event_type").isNotNull(), F.array("event_type")).otherwise(
        F.array_compact(F.array(
            F.when(flag(clients, "passport_invalid"), F.lit("passport_fraud")),
            F.when(flag(accounts, "account_expired"), F.lit("account_fraud")),
        ))
    )
    return (
        events.join(cards.select("card_num", "account_num"), "card_num", "left")
        .join(accounts, "account_num", "left")
        .join(clients, F.col("client") == F.col("client_id"), "left")
        .select(
            "event_dt",
            F.col("passport_num").alias("passport"),
            "fio",
            "phone",
            F.explode(types).alias("event_type"),
        )
    )


def passport_fraud(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    blacklist: DataFrame,
    run_date: _dt.date,
) -> DataFrame:
    """Q1: transactions by clients with an expired (strictly before run_date)
    or blacklisted passport (``flagged_clients``); one row per transaction
    (rep_fraud.py:6-55)."""
    return fraud_rows(transaction_events(transactions), cards, flagged_accounts(accounts),
                      flagged_clients(clients, blacklist, run_date))


def account_fraud(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    run_date: _dt.date,
) -> DataFrame:
    """Q2: transactions on accounts expired strictly before run_date
    (``flagged_accounts``); client identity via LEFT join (account kept even
    without a client) (rep_fraud.py:59-106)."""
    return fraud_rows(transaction_events(transactions), cards, flagged_accounts(accounts, run_date),
                      flagged_clients(clients))


def city_events(
    transactions: DataFrame,
    terminals_hist: DataFrame,
    compat_time_filter: bool = True,
    compat_hist_join: bool = True,
) -> DataFrame:
    """Q3: cards transacting in >1 distinct city; one row per card at the max
    flagged boundary timestamp (rep_fraud.py:110-184).

    Reference quirks, both reproducible and both fixable by flag:
    - ``compat_hist_join=True`` joins the FULL history (no version filter),
      duplicating each transaction once per history version of its terminal
      (SURVEY §2.3 J6). ``False`` joins only current versions.
    - ``compat_time_filter=True`` reproduces the vacuous filter
      ``minutes(cur − next) ≤ 60`` (always true since cur ≤ next);
      ``False`` implements the intended "different cities within one hour":
      ``minutes(next − cur) ≤ 60``.
    """
    hist = terminals_hist if compat_hist_join else current_view(terminals_hist)
    city_dim = F.broadcast(
        hist.select(F.col("terminal_id").alias("terminal"), "terminal_city")
    )
    tx_city = transactions.select("card_num", "trans_date", "terminal").join(
        city_dim, "terminal", "left"
    )

    # one exchange on card_num: the distinct-city count is a whole-partition
    # frame over the leads' window (collect_set skips NULL cities), and lead
    # never crosses cards, so dropping single-city cards after the window
    # leaves every multi-city card's sequence intact
    w = Window.partitionBy("card_num").orderBy("trans_date")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seq = tx_city.withColumns({
        "lead_trans_date": F.lead("trans_date").over(w),
        "lead_terminal_city": F.lead("terminal_city").over(w),
        "cnt_city": F.size(F.collect_set("terminal_city").over(whole)),
    }).filter(F.col("cnt_city") > 1)
    if compat_time_filter:
        time_ok = minutes_between("trans_date", "lead_trans_date") <= 60
    else:
        time_ok = minutes_between("lead_trans_date", "trans_date") <= 60
    flagged = seq.filter(
        (F.col("terminal_city") != F.col("lead_terminal_city")) & time_ok
    )

    return flagged.groupBy("card_num").agg(
        F.max("trans_date").alias("event_dt"), F.lit("city_fraud").alias("event_type")
    )


def city_fraud(
    transactions: DataFrame,
    terminals_hist: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    compat_time_filter: bool = True,
    compat_hist_join: bool = True,
) -> DataFrame:
    """Q3's events (``city_events``) with each card's identity."""
    events = city_events(transactions, terminals_hist, compat_time_filter, compat_hist_join)
    return fraud_rows(events, cards, flagged_accounts(accounts), flagged_clients(clients))


def guessing_events(transactions: DataFrame) -> DataFrame:
    """Q4: a SUCCESS whose 3 predecessors (PAYMENT/WITHDRAW only, per card,
    time-ordered) are REJECTs with strictly decreasing integer amounts, the
    whole chain within 20 minutes (rep_fraud.py:187-261).

    Integer amounts use SQLite prefix-cast semantics (whole currency units,
    kopecks dropped — functions.int_amount).
    """
    w = Window.partitionBy("card_num").orderBy("trans_date")
    amt_i = int_amount("amt")
    seq = (
        transactions.filter(F.col("oper_type").isin("PAYMENT", "WITHDRAW"))
        .select("card_num", "trans_date", "amt", "oper_result")
        .withColumn("amt_int", amt_i)
        # lag the materialized column so all lags share ONE Window node
        .withColumns({
            "lag_amt_1": F.lag("amt_int", 1).over(w),
            "lag_amt_2": F.lag("amt_int", 2).over(w),
            "lag_amt_3": F.lag("amt_int", 3).over(w),
            "lag_result_1": F.lag("oper_result", 1).over(w),
            "lag_result_2": F.lag("oper_result", 2).over(w),
            "lag_result_3": F.lag("oper_result", 3).over(w),
            "lag_trans_date": F.lag("trans_date", 3).over(w),
        })
    )
    return seq.filter(
        (F.col("oper_result") == "SUCCESS")
        & (F.col("lag_result_1") == "REJECT")
        & (F.col("lag_result_2") == "REJECT")
        & (F.col("lag_result_3") == "REJECT")
        & (minutes_between("trans_date", "lag_trans_date") <= 20)
        & (F.col("lag_amt_3") > F.col("lag_amt_2"))
        & (F.col("lag_amt_2") > F.col("lag_amt_1"))
        & (F.col("lag_amt_1") > F.col("amt_int"))
    ).select("card_num", F.col("trans_date").alias("event_dt"), F.lit("guessing_amount_fraud").alias("event_type"))


def guessing_amount_fraud(
    transactions: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
) -> DataFrame:
    """Q4's hits (``guessing_events``) with each card's identity."""
    return fraud_rows(guessing_events(transactions), cards, flagged_accounts(accounts), flagged_clients(clients))
