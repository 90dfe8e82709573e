"""Independent oracles for one day of the fraud run.

``rep_fraud_rows`` encodes Q1-Q4 in DuckDB SQL straight from their
as-implemented semantics (SURVEY.md section 2.9), with ``run_day``'s default
compat settings: Q3 joins every version of the terminal history and keeps
the vacuous time filter ``minutes(cur - next) <= 60``. The transactions CSV
is read by DuckDB itself; the dimensions, blacklist and terminal history come
from the generator's own records of what it wrote, not from Spark.

``Scd2Oracle`` replays the terminal snapshots into SCD2 history rows with the
reference's close-at-``run_ts - 1s`` and tombstone rules.
"""

from __future__ import annotations

import datetime as dt

import duckdb

HIGH_TS = dt.datetime(2999, 12, 31, 23, 59, 59)

_MIN = "CAST(trunc(date_diff('microsecond', {b}, {a}) / 60000000.0) AS BIGINT)"

_SQL = """
WITH tx AS (
    SELECT CAST(transaction_date AS TIMESTAMP) AS trans_date,
           CAST(replace(amount, ',', '.') AS DECIMAL(10, 2)) AS amt,
           CAST(split_part(amount, ',', 1) AS BIGINT) AS amt_int,
           card_num, oper_type, oper_result, terminal
    FROM read_csv('{csv}', delim = ';', header = true, all_varchar = true, quote = '')
),
ident AS (
    SELECT c.card_num, cl.passport_num, cl.last_name || ' ' || cl.first_name || ' ' || cl.patrinymic AS fio,
           cl.phone
    FROM cards c LEFT JOIN accounts a ON c.account_num = a.account_num
    LEFT JOIN clients cl ON a.client = cl.client_id
),
bad_clients AS (
    SELECT client_id, passport_num, last_name || ' ' || first_name || ' ' || patrinymic AS fio, phone
    FROM clients
    WHERE DATE '{day}' > passport_valid_to
       OR passport_num IN (SELECT passport_num FROM blacklist WHERE passport_num IS NOT NULL)
),
q1 AS (
    SELECT t.trans_date AS event_dt, b.passport_num AS passport, b.fio, b.phone,
           'passport_fraud' AS event_type
    FROM tx t JOIN cards c ON t.card_num = c.card_num
    JOIN accounts a ON c.account_num = a.account_num
    JOIN bad_clients b ON a.client = b.client_id
),
q2 AS (
    SELECT t.trans_date, cl.passport_num, cl.last_name || ' ' || cl.first_name || ' ' || cl.patrinymic,
           cl.phone, 'account_fraud'
    FROM tx t JOIN cards c ON t.card_num = c.card_num
    JOIN accounts a ON c.account_num = a.account_num AND DATE '{day}' > a.valid_to
    LEFT JOIN clients cl ON a.client = cl.client_id
),
tx_city AS (
    SELECT t.card_num, t.trans_date, h.terminal_city
    FROM tx t LEFT JOIN hist h ON t.terminal = h.terminal_id
),
multi_city AS (
    SELECT card_num FROM tx_city GROUP BY card_num HAVING count(DISTINCT terminal_city) > 1
),
city_seq AS (
    SELECT card_num, trans_date, terminal_city,
           lead(trans_date) OVER w AS next_date, lead(terminal_city) OVER w AS next_city
    FROM tx_city WHERE card_num IN (SELECT card_num FROM multi_city)
    WINDOW w AS (PARTITION BY card_num ORDER BY trans_date)
),
q3 AS (
    SELECT max(s.trans_date), i.passport_num, i.fio, i.phone, 'city_fraud'
    FROM city_seq s LEFT JOIN ident i ON s.card_num = i.card_num
    WHERE s.terminal_city <> s.next_city AND {cur_minus_next} <= 60
    GROUP BY s.card_num, i.passport_num, i.fio, i.phone
),
pw AS (
    SELECT card_num, trans_date, amt_int, oper_result,
           lag(amt_int, 1) OVER w AS a1, lag(amt_int, 2) OVER w AS a2, lag(amt_int, 3) OVER w AS a3,
           lag(oper_result, 1) OVER w AS r1, lag(oper_result, 2) OVER w AS r2,
           lag(oper_result, 3) OVER w AS r3, lag(trans_date, 3) OVER w AS d3
    FROM tx WHERE oper_type IN ('PAYMENT', 'WITHDRAW')
    WINDOW w AS (PARTITION BY card_num ORDER BY trans_date)
),
q4 AS (
    SELECT p.trans_date, i.passport_num, i.fio, i.phone, 'guessing_amount_fraud'
    FROM pw p LEFT JOIN ident i ON p.card_num = i.card_num
    WHERE p.oper_result = 'SUCCESS' AND p.r1 = 'REJECT' AND p.r2 = 'REJECT' AND p.r3 = 'REJECT'
      AND {cur_minus_lag3} <= 20 AND p.a3 > p.a2 AND p.a2 > p.a1 AND p.a1 > p.amt_int
)
SELECT * FROM q1 UNION ALL SELECT * FROM q2 UNION ALL SELECT * FROM q3 UNION ALL SELECT * FROM q4
"""


def rep_fraud_rows(csv_path: str, day: dt.date, cards, accounts, clients, blacklist, hist) -> list[tuple]:
    """(event_dt, passport, fio, phone, event_type) rows the four rules emit for ``day``.

    ``cards``/``accounts``/``clients`` are the seed rows in dump column order,
    ``blacklist`` (entry, passport) pairs, ``hist`` the SCD2 history rows.
    """
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE TABLE cards(card_num VARCHAR, account_num VARCHAR, create_dt DATE, update_dt DATE)")
        con.executemany("INSERT INTO cards VALUES (?, ?, ?, ?)", cards)
        con.execute("CREATE TABLE accounts(account_num VARCHAR, valid_to DATE, client VARCHAR, "
                    "create_dt DATE, update_dt DATE)")
        con.executemany("INSERT INTO accounts VALUES (?, ?, ?, ?, ?)", accounts)
        con.execute("CREATE TABLE clients(client_id VARCHAR, last_name VARCHAR, first_name VARCHAR, "
                    "patrinymic VARCHAR, date_of_birth DATE, passport_num VARCHAR, passport_valid_to DATE, "
                    "phone VARCHAR, create_dt DATE, update_dt DATE)")
        con.executemany("INSERT INTO clients VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)", clients)
        con.execute("CREATE TABLE blacklist(entry_dt TIMESTAMP, passport_num VARCHAR)")
        con.executemany("INSERT INTO blacklist VALUES (?, ?)", blacklist)
        con.execute("CREATE TABLE hist(terminal_id VARCHAR, terminal_type VARCHAR, terminal_city VARCHAR, "
                    "terminal_address VARCHAR, effective_from TIMESTAMP, effective_to TIMESTAMP, "
                    "deleted_flg INTEGER)")
        con.executemany("INSERT INTO hist VALUES (?, ?, ?, ?, ?, ?, ?)", hist)
        sql = _SQL.format(
            csv=csv_path.replace("'", "''"),
            day=day.isoformat(),
            cur_minus_next=_MIN.format(a="s.trans_date", b="s.next_date"),
            cur_minus_lag3=_MIN.format(a="p.trans_date", b="p.d3"),
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


class Scd2Oracle:
    """Terminal history after each full snapshot, as plain tuples."""

    def __init__(self) -> None:
        self.rows: list[list] = []  # [id, type, city, addr, from, to, deleted]

    def apply(self, snapshot: list[tuple], run_ts: dt.datetime) -> list[tuple]:
        close = run_ts - dt.timedelta(seconds=1)
        snap = {r[0]: tuple(r[1:4]) for r in snapshot}
        open_rows = {r[0]: r for r in self.rows if r[5] == HIGH_TS}
        current = {k: r for k, r in open_rows.items() if r[6] == 0}
        affected, opened = set(), []
        for key, attrs in snap.items():
            cur = current.get(key)
            # NULL-blind change test, as the reference's `<>` join
            if cur is None or any(a is not None and b is not None and a != b
                                  for a, b in zip(attrs, cur[1:4])):
                affected.add(key)
                opened.append([key, *attrs, run_ts, HIGH_TS, 0])
        for key, cur in current.items():
            if key not in snap:
                affected.add(key)
                opened.append([key, *cur[1:4], run_ts, HIGH_TS, 1])
        for r in self.rows:
            if r[5] == HIGH_TS and r[0] in affected:
                r[5] = close
        self.rows.extend(opened)
        return [tuple(r) for r in self.rows]
