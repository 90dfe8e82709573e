"""Seeded generator for the daily fraud-run inputs (FIXTURES.md A1-A7).

The corpus is K copies ("blocks") of the reference's shape: 50 clients,
77 accounts, 195 cards, 150 terminals and about 15.7k transactions per day.
Every block gets fresh random identities from the seed, so all counts scale
by K while hit rates stay near the reference's (a few percent of
transactions for Q1/Q2, a handful of Q3/Q4 hits per block and day).

Files written, in the formats the package reads:

- ``ddl_dml.sql``: INSERT statements that ``parse_sql_dump`` reads;
- ``data/transactions_DDMMYYYY.txt``: ``;``-separated, comma decimals, no
  two transactions of one card at the same second;
- ``data/terminals_DDMMYYYY.xlsx`` and ``data/passport_blacklist_DDMMYYYY.xlsx``:
  minimal SpreadsheetML written with ``zipfile``, inline strings and a
  numFmt-14 date style.

The same (seed, K) always gives byte-identical files. Day files are written
one day at a time (``write_day``) so a long run does not pay for days it
never reaches.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zipfile
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

START = dt.date(2021, 3, 1)
CITIES = [
    "Moscow", "Saint Petersburg", "Novosibirsk", "Yekaterinburg", "Kazan",
    "Nizhny Novgorod", "Chelyabinsk", "Samara", "Omsk", "Rostov-on-Don",
    "Ufa", "Krasnoyarsk", "Voronezh", "Perm", "Volgograd", "Krasnodar",
    "Saratov", "Tyumen", "Tolyatti", "Izhevsk", "Barnaul", "Ulyanovsk",
    "Irkutsk", "Khabarovsk", "Yaroslavl", "Vladivostok", "Makhachkala",
    "Tomsk", "Orenburg", "Kemerovo", "Novokuznetsk", "Ryazan", "Astrakhan",
    "Naberezhnye Chelny", "Penza", "Kirov", "Lipetsk", "Cheboksary",
    "Balashikha", "Kaliningrad", "Tula", "Kursk",
]
LAST = ["Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov", "Volkov", "Sokolov"]
FIRST = ["Ivan", "Petr", "Sergey", "Anna", "Maria", "Olga", "Dmitry", "Elena"]
PATR = ["Ivanovich", "Petrovich", "Sergeevich", "Ivanovna", "Petrovna", None]
STREETS = ["Lenina", "Mira", "Gagarina", "Pushkina", "Sovetskaya", "Shkolnaya"]

# per-block shape (FIXTURES.md A1-A6)
N_CLIENTS, N_ACCOUNTS, N_CARDS, N_TERMINALS = 50, 77, 195, 150
TX_PER_CARD = (60, 101)  # uniform, mean about 80 -> ~15.7k tx per block-day
# background transactions avoid this window, so planted sequences own it
QUIET = (11 * 3600 + 1800, 13 * 3600 + 1800)


def ddmmyyyy(d: dt.date) -> str:
    return d.strftime("%d%m%Y")


@dataclass
class Block:
    clients: list[tuple]
    accounts: list[tuple]
    cards: list[tuple]
    card_city: dict[str, str]
    terminals: dict[str, tuple]  # live snapshot: id -> (type, city, address)
    by_city: dict[str, list[str]]  # stable terminals per city (never deleted)
    mutable: list[str]  # stable terminals whose address may change
    blacklist: list[tuple] = field(default_factory=list)  # (entry datetime, passport)
    added: str | None = None  # terminal added yesterday, deleted today


@dataclass
class Corpus:
    """Generated inputs plus the generator's own record of what it wrote."""

    root: str
    k: int
    seed: int
    blocks: list[Block]
    dates: list[dt.date] = field(default_factory=list)
    tx_rows: dict[dt.date, int] = field(default_factory=dict)
    # planted expectations per date: (card_num, rule, event_dt) triples
    planted: dict[dt.date, list[tuple]] = field(default_factory=dict)
    # what each day's xlsx files hold: terminals snapshot rows, blacklist (entry, passport)
    snapshots: dict[dt.date, list[tuple]] = field(default_factory=dict)
    blacklists: dict[dt.date, list[tuple]] = field(default_factory=dict)
    _ids: set = field(default_factory=set)
    _next_tx: int = 1_000_000

    @property
    def seed_path(self) -> str:
        return os.path.join(self.root, "ddl_dml.sql")

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def tx_path(self, d: dt.date) -> str:
        return os.path.join(self.data_dir, f"transactions_{ddmmyyyy(d)}.txt")

    def cards(self):
        return [c for b in self.blocks for c in b.cards]

    def accounts(self):
        return [a for b in self.blocks for a in b.accounts]

    def clients(self):
        return [c for b in self.blocks for c in b.clients]


def _digits(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("0123456789") for _ in range(n))


def _unique(corpus: Corpus, make) -> str:
    while True:
        v = make()
        if v not in corpus._ids:
            corpus._ids.add(v)
            return v


def _make_block(corpus: Corpus, rng: random.Random) -> Block:
    clients = []
    for _ in range(N_CLIENTS):
        cid = _unique(corpus, lambda: "C" + _digits(rng, 7))
        passport = _unique(corpus, lambda: f"{_digits(rng, 4)} {_digits(rng, 6)}")
        valid_to = None if rng.random() < 0.4 else START + dt.timedelta(days=rng.randint(60, 3000))
        phone = f"+7 9{_digits(rng, 2)} {_digits(rng, 3)}-{_digits(rng, 2)}-{_digits(rng, 2)}"
        dob = dt.date(1950, 1, 1) + dt.timedelta(days=rng.randint(0, 18000))
        clients.append([cid, rng.choice(LAST), rng.choice(FIRST), rng.choice(PATR), dob,
                        passport, valid_to, phone, dt.date(2020, 5, 1), None])
    accounts = []
    for i in range(N_ACCOUNTS):
        acc = _unique(corpus, lambda: "40817810" + _digits(rng, 12))
        # clients 0-4 (planted below) own exactly one account each
        owner = clients[i][0] if i < N_CLIENTS else rng.choice(clients[5:])[0]
        valid_to = START + dt.timedelta(days=rng.randint(400, 3000))
        accounts.append([acc, valid_to, owner, dt.date(2020, 5, 1), None])
    cards = []
    for i in range(N_CARDS):
        num = _unique(corpus, lambda: " ".join(_digits(rng, 4) for _ in range(4)))
        # and accounts 0-4 exactly one card each (FIXTURES A7: "one card")
        acc = accounts[i][0] if i < N_ACCOUNTS else rng.choice(accounts[5:])[0]
        cards.append([num, acc, dt.date(2020, 6, 1), None])

    # A7 planted dimension states (relative to the first run date D0):
    #   client 0 passport expired before D0    -> Q1 hits every day
    #   client 1 passport expires ON D0+1      -> no hit that day (strict >), hits after
    #   client 2 blacklisted from D0+1, entry date in the future (entry_dt ignored)
    #   account 3 expired before D0            -> Q2 hits every day
    #   account 4 expires ON D0+2              -> no hit that day, hits after
    clients[0][6] = START - dt.timedelta(days=45)
    clients[1][6] = START + dt.timedelta(days=1)
    accounts[3][1] = START - dt.timedelta(days=30)
    accounts[4][1] = START + dt.timedelta(days=2)

    terminals, by_city = {}, {}
    for i in range(N_TERMINALS):
        kind = "ATM" if i % 3 == 0 else "POS"
        tid = _unique(corpus, lambda: kind[0] + _digits(rng, 4))
        city = CITIES[i % len(CITIES)]
        addr = f"{city}, ul. {rng.choice(STREETS)}, {rng.randint(1, 200)}"
        terminals[tid] = (kind, city, addr)
        by_city.setdefault(city, []).append(tid)
    mutable = sorted(terminals)[: N_TERMINALS // 5]
    card_city = {c[0]: CITIES[rng.randrange(len(CITIES))] for c in cards}
    return Block(clients, accounts, cards, card_city, terminals, by_city, mutable)


def new_corpus(root: str, seed: int, k: int) -> Corpus:
    """Create the seed dump for ``k`` blocks under ``root``; no day files yet."""
    rng = random.Random(f"dims:{seed}:{k}")
    corpus = Corpus(root=root, k=k, seed=seed, blocks=[])
    corpus.blocks = [_make_block(corpus, rng) for _ in range(k)]
    os.makedirs(corpus.data_dir, exist_ok=True)
    with open(corpus.seed_path, "w", encoding="utf-8", newline="\n") as f:
        f.write(_sql_dump(corpus))
    return corpus


def _lit(v) -> str:
    if v is None:
        return "null"
    return "'" + str(v).replace("'", "''") + "'"


def _sql_dump(corpus: Corpus) -> str:
    out = [
        "-- generated seed dimensions (cards, accounts, clients)",
        "create table cards(card_num varchar(20), account varchar(20), create_dt date, update_dt date);",
        "create table accounts(account varchar(20), valid_to date, client varchar(10), create_dt date, update_dt date);",
        "create table clients(client_id varchar(10), last_name varchar(20), first_name varchar(20), "
        "patronymic varchar(20), date_of_birth date, passport_num varchar(15), passport_valid_to date, "
        "phone varchar(16), create_dt date, update_dt date);",
    ]
    for r in corpus.clients():
        out.append(
            "insert into clients(client_id, last_name, first_name, patronymic, date_of_birth, "
            "passport_num, passport_valid_to, phone, create_dt, update_dt) values("
            + ", ".join(_lit(v) for v in r) + ");"
        )
    for r in corpus.accounts():
        out.append("insert into accounts(account, valid_to, client, create_dt, update_dt) values("
                   + ", ".join(_lit(v) for v in r) + ");")
    for r in corpus.cards():
        out.append("insert into cards(card_num, account, create_dt, update_dt) values("
                   + ", ".join(_lit(v) for v in r) + ");")
    return "\n".join(out) + "\n"


def _fmt_amount(cents: int) -> str:
    return f"{cents // 100},{cents % 100:02d}"


def _day_terminals(block: Block, rng: random.Random, day_index: int, corpus: Corpus) -> None:
    """SCD2 replay (FIXTURES A2): on even-indexed days after the first, add one
    terminal and change two addresses; on the following day delete that
    terminal and change one address. Cities never change, so Q3's
    full-history join cannot invent a city hop."""
    if day_index == 0:
        return
    if block.added is None:
        city = rng.choice(CITIES)
        tid = _unique(corpus, lambda: "P" + _digits(rng, 4))
        block.terminals[tid] = ("POS", city, f"{city}, ul. {rng.choice(STREETS)}, {rng.randint(1, 200)}")
        block.added = tid
        n_changed = 2
    else:
        del block.terminals[block.added]
        block.added = None
        n_changed = 1
    for tid in rng.sample(block.mutable, n_changed):
        kind, city, _ = block.terminals[tid]
        block.terminals[tid] = (kind, city, f"{city}, ul. {rng.choice(STREETS)}, {rng.randint(201, 400)}")


def _background(block: Block, rng: random.Random, day: dt.date, rows: list) -> None:
    midnight = dt.datetime.combine(day, dt.time())
    quiet = QUIET[1] - QUIET[0]
    for num, *_ in block.cards:
        terms = block.by_city[block.card_city[num]]
        n = rng.randint(*TX_PER_CARD)
        secs = sorted(rng.sample(range(86400 - quiet), n))
        run = 0  # consecutive PAYMENT/WITHDRAW rejects; capped at 2 so no Q4 chain forms
        for s in secs:
            if s >= QUIET[0]:
                s += quiet
            op = rng.choices(("PAYMENT", "WITHDRAW", "DEPOSIT"), (6, 3, 1))[0]
            res = "REJECT" if rng.random() < 0.1 and not (op != "DEPOSIT" and run >= 2) else "SUCCESS"
            if op != "DEPOSIT":
                run = run + 1 if res == "REJECT" else 0
            rows.append((midnight + dt.timedelta(seconds=s), _fmt_amount(rng.randint(100, 3_000_000)),
                         num, op, res, rng.choice(terms)))


def _planted(block: Block, rng: random.Random, day: dt.date, rows: list, planted: list) -> None:
    """A7 sequences inside the quiet window, each on its own card."""
    base = dt.datetime.combine(day, dt.time(11, 35))
    cards = rng.sample([c[0] for c in block.cards[10:]], 8)

    def tx(card, minute, cents, op, res, term=None):
        at = base + dt.timedelta(minutes=minute)
        rows.append((at, _fmt_amount(cents), card, op, res, term or block.by_city[block.card_city[card]][0]))
        return at

    def other_city(card):
        return next(c for c in CITIES if c != block.card_city[card] and c in block.by_city)

    # 4. city hop 30 minutes apart -> 1 row at the later transaction
    c = cards[0]
    tx(c, 0, 150000, "PAYMENT", "SUCCESS")
    at = tx(c, 30, 90000, "PAYMENT", "SUCCESS", block.by_city[other_city(c)][0])
    planted.append((c, "city_fraud", at))
    # 8b. hop 74 minutes apart: flagged only because the compat time filter is vacuous
    c = cards[1]
    tx(c, 0, 150000, "PAYMENT", "SUCCESS")
    at = tx(c, 74, 90000, "WITHDRAW", "SUCCESS", block.by_city[other_city(c)][0])
    planted.append((c, "city_fraud", at))
    # 5. guessing chain inside 20 minutes -> 1 row at the SUCCESS
    c = cards[2]
    for m, amt in ((0, 500000), (5, 400000), (10, 300000)):
        tx(c, m, amt + rng.randint(0, 99), "PAYMENT", "REJECT")
    planted.append((c, "guessing_amount_fraud", tx(c, 15, 200000, "WITHDRAW", "SUCCESS")))
    # 7. counterexamples: 4th op rejected; equal adjacent amounts; success after
    #    21 minutes; a DEPOSIT inside the chain
    for c, steps in (
        (cards[3], [(0, 500000, "PAYMENT", "REJECT"), (5, 400000, "PAYMENT", "REJECT"),
                    (10, 300000, "PAYMENT", "REJECT"), (15, 200000, "PAYMENT", "REJECT")]),
        (cards[4], [(0, 500000, "PAYMENT", "REJECT"), (5, 400000, "PAYMENT", "REJECT"),
                    (10, 400050, "PAYMENT", "REJECT"), (15, 200000, "PAYMENT", "SUCCESS")]),
        (cards[5], [(0, 500000, "PAYMENT", "REJECT"), (5, 400000, "PAYMENT", "REJECT"),
                    (10, 300000, "PAYMENT", "REJECT"), (21, 200000, "PAYMENT", "SUCCESS")]),
        (cards[6], [(0, 500000, "PAYMENT", "REJECT"), (5, 400000, "PAYMENT", "REJECT"),
                    (10, 300000, "PAYMENT", "REJECT"), (15, 200000, "DEPOSIT", "SUCCESS")]),
    ):
        for m, amt, op, res in steps:
            tx(c, m, amt, op, res)
    # 8a. several transactions, one city -> nothing
    for m in (0, 20, 40):
        tx(cards[7], m, 70000, "PAYMENT", "SUCCESS")


def _day_blacklist(block: Block, rng: random.Random, day: dt.date, day_index: int, corpus: Corpus) -> None:
    entry = dt.datetime.combine(day, dt.time())
    block.blacklist.append((entry, _unique(corpus, lambda: f"{_digits(rng, 4)} {_digits(rng, 6)}")))
    if day_index == 1:  # A7 #2: entry date after the run date still counts
        block.blacklist.append((entry + dt.timedelta(days=30), block.clients[2][5]))


def write_day(corpus: Corpus) -> dt.date:
    """Write the next day's three files and return its date."""
    i = len(corpus.dates)
    day = START + dt.timedelta(days=i)
    rng = random.Random(f"day:{corpus.seed}:{corpus.k}:{i}")
    rows: list[tuple] = []
    planted: list[tuple] = []
    for b in corpus.blocks:
        _day_terminals(b, rng, i, corpus)
        _day_blacklist(b, rng, day, i, corpus)
        _background(b, rng, day, rows)
        _planted(b, rng, day, rows, planted)
    rows.sort(key=lambda r: (r[0], r[2]))
    tag = ddmmyyyy(day)
    with open(corpus.tx_path(day), "w", encoding="utf-8", newline="\n") as f:
        f.write("transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n")
        f.writelines(
            f"{corpus._next_tx + n};{r[0]:%Y-%m-%d %H:%M:%S};{r[1]};{r[2]};{r[3]};{r[4]};{r[5]}\n"
            for n, r in enumerate(rows)
        )
    corpus._next_tx += len(rows)
    terms = [[tid, *v] for b in corpus.blocks for tid, v in sorted(b.terminals.items())]
    write_xlsx(os.path.join(corpus.data_dir, f"terminals_{tag}.xlsx"),
               ["terminal_id", "terminal_type", "terminal_city", "terminal_address"], terms)
    bl = [[e, p] for b in corpus.blocks for e, p in b.blacklist]
    if i < 2:  # the reference's first two files end in all-blank rows (A3)
        bl += [[None, None]] * 2
    write_xlsx(os.path.join(corpus.data_dir, f"passport_blacklist_{tag}.xlsx"), ["date", "passport"], bl)
    corpus.dates.append(day)
    corpus.tx_rows[day] = len(rows)
    corpus.planted[day] = planted
    corpus.snapshots[day] = [tuple(t) for t in terms]
    corpus.blacklists[day] = [tuple(r) for r in bl if r[1] is not None]
    return day


# --- minimal xlsx writer ----------------------------------------------------

_XLSX_STATIC = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
        "</Relationships>"
    ),
    # cellXfs[1] uses builtin numFmt 14 (m/d/yyyy): the reader maps it to a date
    "xl/styles.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>'
        '<borders count="1"><border/></borders>'
        '<cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>'
        '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>'
        "</styleSheet>"
    ),
}
_EXCEL_EPOCH = dt.datetime(1899, 12, 30)


def _col(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _cell(ref: str, v) -> str:
    if v is None:
        return ""
    if isinstance(v, dt.datetime):
        serial = (v - _EXCEL_EPOCH) / dt.timedelta(days=1)
        return f'<c r="{ref}" s="1"><v>{serial!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """One-sheet workbook; strings inline, datetimes as dated serials."""
    body = []
    for r, row in enumerate([header, *rows], start=1):
        cells = "".join(_cell(f"{_col(c)}{r}", v) for c, v in enumerate(row))
        body.append(f'<row r="{r}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(body)}</sheetData></worksheet>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in [*_XLSX_STATIC.items(), ("xl/worksheets/sheet1.xml", sheet)]:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text)
