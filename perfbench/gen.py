"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size: the same seed
gives byte-identical output, which `run.py` self-checks by generating
twice and comparing the two outputs.

Taxi lines
    One CSV with the reference's 18-column header and `MM/dd/yyyy
    hh:mm:ss a` timestamps (January 2024, so the EST -> UTC shift never
    meets a DST edge). The dedup key (pickup, dropoff, passenger_count)
    is injective by construction: row i picks up at
    `(offset + i * stride) mod PERIOD` seconds with `stride` coprime to
    PERIOD, so no two rows share a pickup second unless a duplicate was
    planted on purpose. Planted rows:
      * parse-invalid: empty / fractional / out-of-range passenger count,
        negative distance, unparsable timestamp, non-numeric fare;
      * normalize-invalid: flag `X`, dropoff before pickup;
      * duplicates: a later valid row copies an earlier valid row's key
        (groups of one leader and one or more copies).
    The shares follow the reference ETL's own counters over its 30000-line
    sample (see REF_* below). The generator records the six counters the
    ETL must report.
    The stream workload gets the same records as headerless files in the
    ETL's canonical 9-column order, one file per micro-batch, with the
    counters expected after each file.

Documents
    A corpus shaped like the harness `documents` table (space-separated
    tokens over a small vocabulary, 20 sources, 5 languages), grown from
    base documents by id-shifted copies, a seeded share of which is
    lightly mutated so that exact and near-duplicate clusters are both
    non-trivial. Some base documents are planted low-quality (too short,
    repetitive, out-of-vocabulary noise) so the quality gate binds.
"""

import random

# bump when any generator's output changes, so cached inputs are rebuilt
VERSION = 3

# The reference ETL's counters over its 30000-line sample: 145 invalid
# rows, all rejected at parse level, and 15 duplicates. The planted
# shares keep its invalid and duplicate rates. The reference has no
# normalize-level rejections; the benchmark plants as many of those as
# duplicates so the normalize checks are exercised, and takes them out
# of the parse share, so the total invalid rate stays the reference's.
REF_LINES, REF_INVALID, REF_DUPLICATES = 30_000, 145, 15
P_NORMALIZE = REF_DUPLICATES / REF_LINES
P_PARSE = REF_INVALID / REF_LINES - P_NORMALIZE
P_DUPLICATE = REF_DUPLICATES / REF_LINES

TAXI_HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount,congestion_surcharge")

# positions of the nine fields the ETL reads, in its canonical order
# (pickup, dropoff, passenger_count, trip_distance, store_and_fwd_flag,
# PULocationID, DOLocationID, fare_amount, tip_amount)
CANONICAL_POS = (1, 2, 3, 4, 6, 7, 8, 10, 13)

PERIOD = 27 * 86400  # pickups fall in 2024-01-01 .. 2024-01-27


def _ts(sec):
    """Seconds since 2024-01-01 00:00:00 as `MM/dd/yyyy hh:mm:ss a`."""
    day, rem = divmod(sec, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    h12 = h % 12 or 12
    return "01/%02d/2024 %02d:%02d:%02d %s" % (
        day + 1, h12, m, s, "AM" if h < 12 else "PM")


def _money(cents):
    return "%d.%02d" % divmod(cents, 100)


def _stride(rng):
    while True:
        s = rng.randrange(100_003, 2_000_000)
        if s % 2 and s % 3 and s % 5:  # PERIOD = 2^7 * 3^6 * 5^2
            return s


def taxi_records(seed, n):
    """Yield (fields, kind) for n data rows.

    `fields` is the 18-column record; `kind` is one of inserted / parse /
    normalize / duplicate."""
    rng = random.Random(seed * 7919 + 1)
    stride, offset = _stride(rng), rng.randrange(PERIOD)
    leaders = []   # (pickup, dropoff, pc) of valid rows that may be copied
    groups = []    # leaders that already have a copy (reused for groups >2)
    for i in range(n):
        pickup = (offset + i * stride) % PERIOD
        travel = 60 + rng.randrange(3600)
        p_s, d_s = _ts(pickup), _ts(pickup + travel)
        pc = str(1 + rng.randrange(6))
        dist = "%d.%03d" % divmod(rng.randrange(30_000), 1000)
        flag = rng.choice(("N", "Y", " n", "y "))
        fare_c, tip_c = rng.randrange(1, 20_000), rng.randrange(3_000)
        kind = "inserted"
        r = rng.random()
        if r < P_PARSE:
            kind = "parse"
            bad = rng.randrange(6)
            if bad == 0:
                pc = ""
            elif bad == 1:
                pc = rng.choice(("2.0", "300", "-1"))
            elif bad == 2:
                dist = "-%d.250" % (1 + rng.randrange(29))
            elif bad == 3:
                p_s = "not-a-date"
            elif bad == 4:
                fare_c = None
            else:
                d_s = "13/45/2024 99:00:00 PM"
        elif r < P_PARSE + P_NORMALIZE:
            kind = "normalize"
            if rng.random() < 0.5:
                flag = "X"
            else:
                d_s = _ts(max(pickup - 1 - rng.randrange(600), 0))
                if pickup == 0:
                    flag = "X"
        elif r < P_PARSE + P_NORMALIZE + P_DUPLICATE and leaders:
            kind = "duplicate"
            if groups and rng.random() < 0.4:
                p_s, d_s, pc = rng.choice(groups)
            else:
                key = rng.choice(leaders)
                groups.append(key)
                p_s, d_s, pc = key
            flag = rng.choice(("N", "Y"))
        else:
            leaders.append((p_s, d_s, pc))
        fare = "abc" if fare_c is None else _money(fare_c)
        fc = fare_c or 0
        yield [
            str(1 + rng.randrange(2)), p_s, d_s, pc, dist,
            str(1 + rng.randrange(5)), flag, str(1 + rng.randrange(265)),
            str(1 + rng.randrange(265)), str(1 + rng.randrange(4)), fare,
            "0.50", "0.50", _money(tip_c), "0.00", "0.30",
            _money(fc + tip_c + 130), "2.50"], kind


def taxi_expected(kinds):
    """The six ETL counters implied by the planted kinds."""
    total = sum(kinds[k] for k in ("inserted", "parse", "normalize", "duplicate"))
    invalid = kinds["parse"] + kinds["normalize"]
    return {"total": total, "parsed": total - kinds["parse"],
            "invalid": invalid, "duplicates": kinds["duplicate"],
            "inserted": kinds["inserted"],
            "duplicatesFile": kinds["duplicate"]}


def _csv(records):
    return "\n".join([TAXI_HEADER] + [",".join(f) for f in records]) + "\n"


def taxi_csv(seed, n):
    """(csv text with header, expected counters)."""
    kinds = dict.fromkeys(("inserted", "parse", "normalize", "duplicate"), 0)
    records = []
    for fields, kind in taxi_records(seed, n):
        kinds[kind] += 1
        records.append(fields)
    return _csv(records), taxi_expected(kinds)


def taxi_stream_files(seed, n_files, lines_per_file):
    """The same records as headerless canonical 9-column files, one per
    micro-batch: ([file text], [expected counters over files 0..i],
    the whole stream as one headed 18-column CSV for the batch path)."""
    kinds = dict.fromkeys(("inserted", "parse", "normalize", "duplicate"), 0)
    files, cum, cur, records = [], [], [], []
    for fields, kind in taxi_records(seed, n_files * lines_per_file):
        kinds[kind] += 1
        records.append(fields)
        cur.append(",".join(fields[p] for p in CANONICAL_POS))
        if len(cur) == lines_per_file:
            files.append("\n".join(cur) + "\n")
            cum.append(taxi_expected(kinds))
            cur = []
    return files, cum, _csv(records)


VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
RARE = ("qux", "zorp", "blat", "frob", "wibble", "xyzzy", "plugh", "quux")
LANGS = ("en", "en", "de", "fr", "es", "zh")


def _mutate(rng, words):
    w = list(words)
    for _ in range(1 + rng.randrange(2)):
        op = rng.randrange(3)
        j = rng.randrange(len(w))
        if op == 0:
            w[j] = rng.choice(VOCAB)
        elif op == 1:
            w.insert(j, rng.choice(VOCAB))
        elif len(w) > 12:
            del w[j]
    return w


def documents(seed, n_base, copies):
    """Rows (doc_id, text, lang, source, n_chars) for n_base * (1 + copies)
    documents: base docs at ids [0, n_base), copy k of doc d at
    d + k * n_base. A copy is mutated (near-duplicate) with probability
    0.5, otherwise exact."""
    rng = random.Random(seed * 104729 + 7)
    base = []
    for _ in range(n_base):
        r = rng.random()
        n = 10 + rng.randrange(91)
        if r < 0.04:
            words = [rng.choice(VOCAB) for _ in range(1 + rng.randrange(4))]
        elif r < 0.08:
            words = [rng.choice(VOCAB[:3]) for _ in range(n)]
        elif r < 0.12:
            words = [rng.choice(RARE) for _ in range(n)]
        else:
            words = [rng.choice(VOCAB) for _ in range(n)]
        base.append((words, rng.choice(LANGS), "src%d" % rng.randrange(20)))
    rows = []
    for k in range(copies + 1):
        for d, (words, lang, src) in enumerate(base):
            if k and rng.random() < 0.5:
                words = _mutate(rng, words)
            text = " ".join(words)
            rows.append((d + k * n_base, text, lang, src, len(text)))
    return rows
