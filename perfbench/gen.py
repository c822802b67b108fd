"""Seeded input generators for the benchmark.

Every generator takes a ``random.Random`` built from ``--seed``, so one
seed always yields the same inputs. The dirty-CSV generators plant the
reference's anomalies at fixed rates and return, next to the CSV text,
the number of rows they expect each cleaner to quarantine per
``quarantine_reason``. Each planted row carries exactly one anomaly, and
valid rows are built to be unique on every dedup key, so the expected
counts are exact.
"""

from __future__ import annotations

import csv
import io
import json
import random
import string
from collections import Counter
from dataclasses import dataclass, field

# Share of rows that carry each planted anomaly.
RATE = 0.03

FIRST = ["Ann", "Bob", "Cara", "Dan", "Eve", "Finn", "Gia", "Hal", "Ida", "Jon",
         "Kay", "Liam", "Mia", "Ned", "Ola", "Pia", "Quin", "Rex", "Sia", "Tom"]
LAST = ["Lee", "Ng", "Ortiz", "Park", "Quist", "Ross", "Shaw", "Tate", "Ueda",
        "Vance", "Wong", "Xu", "Young", "Zane", "Adler", "Brook", "Cole", "Diaz"]
AIRCRAFT = ["boeing 737", "airbus a320", "BOEING 777", "embraer e175", "airbus  a350"]
ALLIANCE_SPELLINGS = ["oneworld", "One World", "SkyTeam", "sky team", "Star Alliance",
                      "staralliance", "none", "nan", "", "Unknown Club"]
LOYALTY_SPELLINGS = ["gold", "GOLD", "Silver!", "bronze ", "platinum", "Gold*"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


@dataclass
class Upload:
    """One generated CSV: its text, row count, and expected quarantine."""

    file_type: str
    text: str
    rows: int
    expected_quarantine: Counter = field(default_factory=Counter)
    keys: list[str] = field(default_factory=list)  # clean staging keys

    @property
    def expected_clean(self) -> int:
        return self.rows - sum(self.expected_quarantine.values())


def _csv(header: list[str], rows: list[list[str]]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def _letters(i: int, width: int = 3) -> str:
    """Index → fixed-width lower-case letter code (unique per index)."""
    out = []
    for _ in range(width):
        i, r = divmod(i, 26)
        out.append(string.ascii_lowercase[r])
    return "".join(reversed(out))


def _pick_kind(rng: random.Random, kinds: list[str]) -> str | None:
    """Planted anomaly for one row, or None for a valid row."""
    x = rng.random()
    for i, k in enumerate(kinds):
        if x < RATE * (i + 1):
            return k
    return None


def _money(rng: random.Random, v: float) -> str:
    s = f"{v:,.2f}"
    return rng.choice([f"${s}", s.replace(",", ""), f"${s.replace(',', '')}"])


@dataclass(frozen=True)
class Dims:
    """The dimension keys flights are built against."""

    airlines: tuple[str, ...]  # keys of the airline rows that clean
    airports: tuple[str, ...]
    foreign_prefixes: tuple[str, ...]  # 2-letter codes that are no airline


def airlines(rng: random.Random, n: int) -> tuple[Upload, list[str]]:
    codes = ["".join(p) for p in
             ((a, b) for a in string.ascii_uppercase for b in string.ascii_uppercase)]
    rng.shuffle(codes)
    rows, expected, clean_keys = [], Counter(), []
    pool = iter(codes)
    for _ in range(n):
        kind = _pick_kind(rng, ["invalid_airlinekey", "invalid_airlinename",
                                "duplicate_airlinekey"])
        if kind == "duplicate_airlinekey" and not clean_keys:
            kind = None
        alliance = rng.choice(ALLIANCE_SPELLINGS)
        if kind == "invalid_airlinekey":
            rows.append([rng.choice(["A-1", "ABCD", "Z_Z", "#1"]), "Bad Key Air", alliance])
        elif kind == "invalid_airlinename":
            key = next(pool)
            rows.append([key, f"Air #{rng.randint(1, 99)}", alliance])
        elif kind == "duplicate_airlinekey":
            key = rng.choice(clean_keys)
            rows.append([f" {key.lower()}", f"{rng.choice(LAST)} Air", alliance])
        else:
            key = next(pool)
            clean_keys.append(key)
            name = f"{rng.choice(LAST).lower()} {rng.choice(['air', 'airways', 'jet'])}"
            rows.append([key, name, alliance])
        if kind:
            expected[kind] += 1
    up = Upload("airlines", _csv(["AirlineKey", "AirlineName", "Alliance"], rows),
                n, expected, clean_keys)
    return up, codes[len(codes) - 60:]  # codes never drawn from the pool


def airports(rng: random.Random, n: int) -> Upload:
    """Airports are a pass-through in the reference: nothing quarantines."""
    codes = {"JFK"}
    while len(codes) < n:
        codes.add("".join(rng.choice(string.ascii_uppercase) for _ in range(3)))
    keys = sorted(codes)
    rng.shuffle(keys)
    rows = [[k, f"{rng.choice(LAST)} International", rng.choice(LAST) + " City"]
            for k in keys]
    return Upload("airports", _csv(["AirportKey", "AirportName", "City"], rows),
                  n, Counter(), keys)


def flights(rng: random.Random, n: int, dims: Dims, first_number: int) -> Upload:
    rows, expected, clean_keys = [], Counter(), []
    number = first_number
    ports = [p for p in dims.airports if p != "JFK"]
    for _ in range(n):
        kind = _pick_kind(rng, ["invalid_flightkey", "invalid_airline_prefix",
                                "invalid_origin", "invalid_destination",
                                "origin_equals_destination", "duplicate_flightkey",
                                "jk_fixed"])
        if kind == "duplicate_flightkey" and not clean_keys:
            kind = None
        number += 1
        origin, dest = rng.sample(ports, 2)
        key = f"{rng.choice(dims.airlines)}{number}"
        craft = rng.choice(AIRCRAFT)
        if kind == "invalid_flightkey":
            key = f"{key[:2]}-{number}"
        elif kind == "invalid_airline_prefix":
            key = f"{rng.choice(dims.foreign_prefixes)}{number}"
        elif kind == "invalid_origin":
            origin = f"{rng.randint(1, 9)}X{rng.randint(1, 9)}"
        elif kind == "invalid_destination":
            dest = "".join(rng.choice(string.ascii_uppercase) for _ in range(5))
        elif kind == "origin_equals_destination":
            dest = origin
        elif kind == "duplicate_flightkey":
            key = rng.choice(clean_keys)
        elif kind == "jk_fixed":
            origin = "JK"  # the reference's hard fix turns it into JFK
        if kind in (None, "jk_fixed"):
            clean_keys.append(key)
        elif kind:
            expected[kind] += 1
        rows.append([key.lower() if rng.random() < 0.1 else key, origin, dest, craft])
    return Upload(
        "flights",
        _csv(["FlightKey", "OriginAirportKey", "DestinationAirportKey", "AircraftType"], rows),
        n, expected, clean_keys,
    )


def passengers(rng: random.Random, n: int, first_key: int) -> Upload:
    rows, expected, clean_keys = [], Counter(), []
    valid: list[tuple[str, str, str]] = []  # cleaned (fullname, email, loyalty)
    for i in range(n):
        kind = _pick_kind(rng, ["missing_passengerkey", "invalid_fullname",
                                "invalid_email", "invalid_loyaltystatus",
                                "duplicate_passenger"])
        if kind == "duplicate_passenger" and not valid:
            kind = None
        key_num = first_key + i
        key = f"P{key_num:05d}"
        first, last = rng.choice(FIRST), rng.choice(LAST)
        code = _letters(key_num, 4)
        local = f"{first.lower()}.{last.lower()}.{code}"
        loyalty = rng.choice(LOYALTY_SPELLINGS)
        fullname = f"{first.lower()}  {last.upper()}"
        email = f"{local}{key_num}@Example.com" if rng.random() < 0.5 else f"{local}@example.com"
        if kind == "missing_passengerkey":
            key = ""
        elif kind == "invalid_fullname":
            fullname = rng.choice([first, f"{first} 3rd"])
        elif kind == "invalid_email":
            email = f"{local}@gmail.com"
        elif kind == "invalid_loyaltystatus":
            loyalty = "Diamond"
        elif kind == "duplicate_passenger":
            fullname, email, loyalty = rng.choice(valid)
        if kind:
            expected[kind] += 1
        else:
            clean_keys.append(key)
            norm_loyalty = "".join(c for c in loyalty if c.isalpha()).capitalize()
            valid.append((f"{first} {last}", f"{local}@example.com", norm_loyalty))
        rows.append([key, fullname, email, loyalty])
    return Upload("passengers",
                  _csv(["PassengerKey", "FullName", "Email", "LoyaltyStatus"], rows),
                  n, expected, clean_keys)


def _date(rng: random.Random) -> str:
    y, m, d = rng.randint(2023, 2025), rng.randint(1, 12), rng.randint(13, 28)
    return rng.choice([f"{y}-{m:02d}-{d:02d}", f"{m:02d}/{d:02d}/{y}",
                       f"{d}-{MONTHS[m - 1]}-{y % 100:02d}"])


def transactions(rng: random.Random, n: int) -> Upload:
    """Travel-agency sales. Valid ids run 40000.. in file order, so the
    cleaner's forward-fill repair (previous numeric id + 1) restores a
    planted non-numeric id to the id it replaced; one is planted only
    right after a row whose numeric id is that id minus one."""
    rows, expected, clean_keys = [], Counter(), []
    clean_rows: list[list[str]] = []
    next_id, prev_seq = 40000, False
    for _ in range(n):
        kind = _pick_kind(rng, ["non_numeric_id", "invalid_transactionid",
                                "unparseable_date", "invalid_passengerid",
                                "invalid_flightid", "duplicate_row",
                                "duplicate_transactionid"])
        if kind in ("duplicate_row", "duplicate_transactionid") and not clean_rows:
            kind = None
        if kind == "non_numeric_id" and not prev_seq:
            kind = None
        price = rng.uniform(50, 2500)
        tax, bag = price * 0.1, rng.choice([0.0, 25.0, 50.0])
        row = [str(next_id), _date(rng), f"P{rng.randint(10000, 89999)}",
               f"{rng.choice(string.ascii_uppercase)}{rng.choice(string.ascii_uppercase)}"
               f"{rng.randint(1, 9999)}",
               _money(rng, price), _money(rng, tax), _money(rng, bag),
               _money(rng, price + tax + bag)]
        seq = True
        if kind == "non_numeric_id":
            row[0] = "4" + "".join(rng.choice(string.ascii_uppercase) for _ in range(2))
            seq = False
        elif kind == "invalid_transactionid":
            row[0] = str(rng.choice([rng.randint(100, 999), rng.randint(500000, 599999)]))
            seq = False
        elif kind == "unparseable_date":
            row[1] = rng.choice(["2025-13-45", "31.12.2025", "soon"])
        elif kind == "invalid_passengerid":
            row[2] = f"P9{rng.randint(1000, 9999)}"
        elif kind == "invalid_flightid":
            row[3] = f"{rng.randint(100, 999)}XYZ"
        elif kind == "duplicate_row":
            row = list(rng.choice(clean_rows))
            seq = False
        elif kind == "duplicate_transactionid":
            row[0] = rng.choice(clean_rows)[0]
            seq = False
        if kind in ("non_numeric_id", None):
            clean_keys.append(str(next_id))
            clean_rows.append(row if kind is None else [str(next_id)] + row[1:])
        else:
            expected[kind] += 1
        if kind not in ("invalid_transactionid", "duplicate_row", "duplicate_transactionid"):
            next_id += 1
        prev_seq = seq
        rows.append(row)
    if next_id > 50000:
        raise ValueError(f"{n} rows overflow the ^4\\d{{4}}$ transaction id space")
    header = ["TransactionID", "TransactionDate", "PassengerID", "FlightID",
              "TicketPrice", "Taxes", "BaggageFees", "TotalAmount"]
    return Upload("transactions", _csv(header, rows), n, expected, clean_keys)


def airlinesales(rng: random.Random, n: int) -> Upload:
    rows, expected, clean_keys = [], Counter(), []
    for i in range(n):
        kind = _pick_kind(rng, ["missing_transactionid", "duplicate_transactionid"])
        if kind == "duplicate_transactionid" and not clean_keys:
            kind = None
        tid = str(700000 + i)
        if kind == "missing_transactionid":
            tid = ""
        elif kind == "duplicate_transactionid":
            tid = rng.choice(clean_keys)
        if kind:
            expected[kind] += 1
        else:
            clean_keys.append(tid)
        rows.append([tid, f"P{rng.randint(10000, 89999)}", f"AA{rng.randint(1, 9999)}",
                     _date(rng), _money(rng, rng.uniform(50, 2500))])
    header = ["TransactionID", "PassengerID", "FlightID", "SaleDate", "TicketPrice"]
    return Upload("airlinesales", _csv(header, rows), n, expected, clean_keys)


# --- eligibility stream -------------------------------------------------


def eligibility_flights(rng: random.Random, n_numbers: int) -> tuple[list[dict], list[str]]:
    """Operational flights table: 1-3 rows per flight number (the latest
    by scheduled departure decides), with missing and malformed times."""
    rows, numbers = [], []
    for i in range(n_numbers):
        fn = f"{rng.choice(string.ascii_uppercase)}{rng.choice(string.ascii_uppercase)}{100 + i}"
        numbers.append(fn)
        days = rng.sample(range(1, 28), rng.randint(1, 3))
        for d in days:
            h, m = rng.randint(0, 20), rng.randint(0, 59)
            sched = f"2025-03-{d:02d} {h:02d}:{m:02d}:00"
            delay = rng.choice([0, 5, 30, 90, 119, 120, 121, 180, 300])
            ah, am = divmod(h * 60 + m + delay, 60)
            actual = f"2025-03-{d:02d} {min(ah, 23):02d}:{am:02d}:00"
            x = rng.random()
            if x < 0.05:
                actual = None
            elif x < 0.08:
                actual = "25:99 tomorrow"
            rows.append({"flight_number": fn, "scheduled_departure": sched,
                         "actual_departure": actual})
    return rows, numbers


def eligibility_message(rng: random.Random, i: int, numbers: list[str],
                        requested_at: str) -> tuple[str, bool]:
    """One topic message and whether it is an eligibility request. About
    2% are malformed JSON and 3% are other message types."""
    x = rng.random()
    if x < 0.02:
        return '{"type": "eligibility_check", "payload": {', False
    first, last = rng.choice(FIRST), rng.choice(LAST)
    flight = rng.choice(numbers) if rng.random() < 0.9 else f"ZZ{rng.randint(1, 99)}"
    msg = {
        "type": "eligibility_check" if x >= 0.05 else "audit_ping",
        "payload": {"passengerId": f"R{i:07d}", "firstName": first,
                    "lastName": last, "flightNumber": flight},
        "requested_at": requested_at,
    }
    return json.dumps(msg), msg["type"] == "eligibility_check"
