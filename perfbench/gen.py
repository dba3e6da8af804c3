"""Seeded input generation for the perfbench workloads.

Everything the program under test reads is made here, from the seed
alone: the same seed gives byte-identical inputs. The seed draws values
and the row permutation only; the shape of the work is fixed, so that
two seeds give the same amount of work. Fixed exactly, whatever the
seed:

  * the row count of every table and shard;
  * the number of near-duplicate documents (and of exact duplicates: 0),
    and the length in words of every document, up to the permutation;
  * the number of malformed TSV rows of each kind, per shard;
  * the cardinality of every key and categorical column: every value of
    its domain occurs at least once (``covering``).

Two input families:

  * ``star``: the TPC-H-ish star schema plus the events / documents /
    embeddings tables, in the shapes the graft fixtures have (same
    schemas, key ranges, categorical domains, value distributions, 5%
    ``<text> dup`` near-duplicate documents). Rows of every fact table
    come out in a seeded permutation, so no query can lean on file order.
  * ``tsv``: the reference job's input: tab-separated log shards, each
    with a header line, a date in column 3 and ``<bucket> <variant>`` in
    column 13, plus malformed rows (too few fields, a variant field of
    one token, or no date), and an index file that lists the shards; and
    the well-formed rows again as an ``events`` table (variant as
    ``event_type``, date as ``ts``) for the streaming form of the job.
    The expected per-key counts are computed here, from the generator's
    own record of which rows it made malformed and how.

Each generator returns the rows and bytes it wrote, which the run
records.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the graft fixtures at sf=1, scaled linearly (documents and
# embeddings have a 500-row floor, as in the fixtures).
PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "users": 15_000, "documents": 50_000, "embeddings": 20_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
NEAR_DUP_FRAC = 0.05
DOC_WORDS = (10, 100)  # document lengths in words, [lo, hi)

TS_US = pa.timestamp("us")


def covering(rng, domain, n, p=None):
    """``n`` indices into ``range(domain)`` in which every index occurs at
    least once (so the column's cardinality is exactly ``domain``); the
    rest are drawn with probabilities ``p`` (uniform by default), and
    the whole is permuted."""
    if n < domain:
        raise ValueError(f"{n} rows cannot cover a domain of {domain}")
    rest = rng.choice(domain, n - domain, p=p)
    return rng.permutation(np.concatenate([np.arange(domain), rest]))


def _pick(rng, values, n, p=None):
    return [values[i] for i in covering(rng, len(values), n, p)]


def _days(start, end):
    return int((np.datetime64(end) - np.datetime64(start)).astype(int))


def _write(out, name, cols, schema):
    table = pa.table(cols, schema=schema)
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def _permuted(rng, cols):
    n = len(next(iter(cols.values())))
    p = rng.permutation(n)
    return {k: (v[p] if isinstance(v, np.ndarray) else [v[i] for i in p])
            for k, v in cols.items()}


def _documents(rng, d):
    """Document texts: a fixed multiset of lengths, and exactly
    ``round(NEAR_DUP_FRAC * d)`` near-duplicates (``<text> dup``), each of
    a distinct earlier original that is not itself a near-duplicate."""
    lo, hi = DOC_WORDS
    lengths = rng.permutation(lo + np.arange(d) % (hi - lo))
    n_dup = int(round(NEAR_DUP_FRAC * d))
    # near-duplicates sit after the first 21 documents, as in the fixtures
    dups = np.sort(rng.choice(np.arange(21, d), n_dup, replace=False))
    is_dup = np.zeros(d, dtype=bool)
    is_dup[dups] = True
    texts = [" ".join(rng.choice(WORDS, int(lengths[i]))) for i in range(d)]
    used = set()
    for i in dups:
        originals = [j for j in range(i) if not is_dup[j] and j not in used]
        src = originals[int(rng.integers(0, len(originals)))]
        used.add(src)
        texts[i] = texts[src] + " dup"
    if len(set(texts)) != d:
        raise ValueError("two generated documents are identical")
    return texts


def star(out, seed, sf):
    """Writes the ten fixture tables at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf))) for k, v in PER_SF.items()}
    n["documents"] = max(500, n["documents"])
    n["embeddings"] = max(500, n["embeddings"])
    stats = {}

    def put(name, cols, fields, permute=True):
        if permute:
            cols = _permuted(rng, cols)
        rows, size = _write(out, name, cols, pa.schema(fields))
        stats[name] = {"rows": rows, "bytes": size}

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        [("r_regionkey", pa.int32()), ("r_name", pa.string())], False)
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5},
        [("n_nationkey", pa.int32()), ("n_name", pa.string()),
         ("n_regionkey", pa.int32())], False)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def key(domain, size, dtype=np.int64, base=0):
        return (base + covering(rng, domain, size)).astype(dtype)

    def day_stamps(start, end, size):
        return np.datetime64(start, "us") + \
            covering(rng, _days(start, end) + 1, size) * np.timedelta64(1, "D")

    c = n["customer"]
    put("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": key(25, c, np.int32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)},
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())])

    s = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": key(25, s, np.int32),
        "s_acctbal": money(-999.99, 9999.99, s)},
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])

    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    put("part", {
        "p_partkey": keys,
        "p_name": _pick(rng, names, p),
        "p_brand": [f"Brand#{b}" for b in key(25, p, base=1)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": key(50, p, np.int32, base=1),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)},
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    o = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": key(c, o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": money(1000.0, 500000.0, o),
        "o_orderdate": day_stamps("1995-01-01", "2001-08-01", o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)},
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
         ("o_orderdate", TS_US), ("o_orderpriority", pa.string())])

    li = n["lineitem"]
    put("lineitem", {
        "l_orderkey": key(o, li),
        "l_partkey": key(p, li),
        "l_suppkey": key(s, li),
        "l_linenumber": key(7, li, np.int32, base=1),
        "l_quantity": key(50, li, np.float64, base=1),
        "l_extendedprice": money(900.0, 105000.0, li),
        "l_discount": key(11, li) / 100.0,
        "l_tax": key(9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": day_stamps("1995-01-02", "2001-11-04", li)},
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
         ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
         ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
         ("l_discount", pa.float64()), ("l_tax", pa.float64()),
         ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", TS_US)])

    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    put("events", {
        "event_id": np.arange(e, dtype=np.int64),
        # distinct, ascending with event_id
        "ts": np.datetime64("2024-01-01", "us") + np.sort(
            rng.choice(span_us, e, replace=False)) * np.timedelta64(1, "us"),
        "user_id": key(n["users"], e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in covering(rng, 100, e)]},
        [("event_id", pa.int64()), ("ts", TS_US), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()),
         ("props", pa.string())])

    d = n["documents"]
    texts = _documents(rng, d)
    put("documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())])

    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": list(vecs),
        "label": key(10, m, np.int32)},
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())])
    return stats


VARIANTS = ["ctrl", "exp_a", "exp_b", "exp_c", "holdout", "beta", "canary",
            "legacy"]
VARIANT_P = [.3, .15, .15, .1, .1, .1, .05, .05]
MONTHS = [f"{y}-{m:02d}" for y in (2023, 2024) for m in range(1, 13)]
TSV_HEADER = "\t".join(["id", "user", "host", "date", "path", "status",
                        "bytes", "ms", "agent", "region", "lang", "ref",
                        "session", "variant"])
# malformed rows per shard, as a share of its rows, by kind
MALFORMED = {"short": 0.005, "one_token": 0.005, "undated": 0.005}


def tsv(out, seed, shards, rows_per_shard):
    """Writes ``shards`` TSV log shards plus ``index.txt``,
    ``events.parquet`` (the well-formed rows) and ``expected.json``: the
    per-(variant, month) counts of the well-formed rows, and the counts
    of the malformed ones under ``(no_variant, -)`` and
    ``(date_error, -)``. Every shard holds every (variant, month) key and
    the same number of malformed rows of each kind."""
    os.makedirs(os.path.join(out, "shards"), exist_ok=True)
    rng = np.random.default_rng(seed)
    r = rows_per_shard
    kinds = ["ok"] * r
    at = 0
    for kind, share in MALFORMED.items():
        k = int(round(share * r))
        kinds[at:at + k] = [kind] * k
        at += k
    combo_p = np.repeat(np.array(VARIANT_P) / len(MONTHS), len(MONTHS))
    expected = {}
    events = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
              "value": [], "props": []}
    paths = []
    total_bytes = 0
    for s in range(shards):
        kind = rng.permutation(np.array(kinds))
        combo = covering(rng, len(VARIANTS) * len(MONTHS), r, combo_p)
        month_start = [np.datetime64(f"{m}-01") for m in MONTHS]
        secs = rng.integers(0, 86_400, r)
        day_frac = rng.random(r)
        user = rng.integers(0, 50_000, r)
        status = rng.choice(["200", "200", "200", "304", "404", "500"], r)
        nbytes = rng.integers(100, 90_000, r)
        ms = rng.integers(1, 3_000, r)
        lines = [TSV_HEADER]
        for j in range(r):
            row_id = s * r + j
            variant, month = divmod(int(combo[j]), len(MONTHS))
            first = month_start[month]
            ndays = 31 if month == len(MONTHS) - 1 else \
                int((month_start[month + 1] - first).astype(int))
            day = first + int(day_frac[j] * ndays)
            date = f"{day} {secs[j] // 3600:02d}:{secs[j] // 60 % 60:02d}"
            bucket = f"b{user[j] % 4}"
            if kind[j] == "short":
                lines.append(f"{row_id}\tu{user[j]}\th{row_id % 97}\t{date}")
                key = "no_variant\t-"
            else:
                var = f"{bucket} {VARIANTS[variant]}"
                if kind[j] == "one_token":
                    var = bucket
                    key = "no_variant\t-"
                elif kind[j] == "undated":
                    date = "-"
                    key = "date_error\t-"
                else:
                    key = f"{VARIANTS[variant]}\t{MONTHS[month]}"
                    events["event_id"].append(row_id)
                    events["ts"].append(day + np.timedelta64(int(secs[j] // 60), "m"))
                    events["user_id"].append(int(user[j]))
                    events["event_type"].append(VARIANTS[variant])
                    events["value"].append(float(nbytes[j]))
                    events["props"].append(f'{{"k": {status[j]}}}')
                lines.append(
                    f"{row_id}\tu{user[j]}\th{row_id % 97}\t{date}\t/p/{row_id % 1013}"
                    f"\t{status[j]}\t{nbytes[j]}\t{ms[j]}\tagent/{user[j] % 7}"
                    f"\treg{user[j] % 11}\ten\t-\ts{user[j]}-{day}\t{var}")
            expected[key] = expected.get(key, 0) + 1
        path = os.path.join(out, "shards", f"part-{s:03d}.tsv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(os.path.abspath(path))
        total_bytes += os.path.getsize(path)
    with open(os.path.join(out, "index.txt"), "w") as f:
        f.write("\n".join(paths) + "\n")
    events["ts"] = np.array(events["ts"], dtype="datetime64[us]")
    n_events, events_bytes = _write(out, "events", events, pa.schema(
        [("event_id", pa.int64()), ("ts", TS_US), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()),
         ("props", pa.string())]))
    rows = sorted((k.split("\t") + [v]) for k, v in expected.items())
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump([{"variant": a, "month": b, "n": c} for a, b, c in rows], f)
    return {"shards": {"rows": shards * (r + 1), "bytes": total_bytes},
            "events": {"rows": n_events, "bytes": events_bytes}}
