"""Seeded input generator for the graft benchmark.

Every input a run uses is a pure function of (RECIPE, seed): the curation
corpus with planted near-duplicate clusters and a contaminated eval slice,
a small star schema, JSON/CSV/parquet events, the lakehouse base rows, the
statement deck sql_interactive sends and its set-up DELETEs. `ensure(cache_root, seed)`
builds them once per (recipe, seed) into a cache directory and returns it.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Bump when anything below changes what a seed produces.
RECIPE = "r8"

# Input sizes (catalog.py describes what each workload does with them).
SIZES = {
    "curate_docs": 400,        # corpus rows before planting dups
    "warm_docs": 60,           # the same for the warm-up corpus
    "curate_shards": 8,        # parquet files the corpus is split into
    "eval_docs": 50,           # reference slice for decontamination
    "vocab": 20000,            # content words (Zipf-distributed)
    "near_dup_root_share": 0.08,
    "exact_dup_share": 0.04,
    "contaminated_share": 0.02,
    "junk_share": 0.08,
    "customers": 1500, "orders": 15000, "lineitem_per_order": 4,
    "parts": 2000, "suppliers": 100, "events": 20000, "event_users": 500,
    "lake_rows": 20000,
    "statements_per_client": 500,
}

STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in", "it", "that"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "de", "et", "est"],
    "zh": [],
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _vocab(rng, n):
    cons = np.array(list("bcdfghjklmnprstvwz"))
    vows = np.array(list("aeiou"))
    taken = {w for ws in STOPWORDS.values() for w in ws}
    m = 2 * n
    syl = np.char.add(cons[rng.integers(0, len(cons), (m, 4))],
                      vows[rng.integers(0, len(vows), (m, 4))])
    lens = rng.integers(2, 5, m)
    words = []
    for row, k in zip(syl.tolist(), lens.tolist()):
        w = "".join(row[:k])
        if w not in taken:
            taken.add(w)
            words.append(w)
            if len(words) == n:
                return words
    raise RuntimeError("vocabulary draw too small")


class _Words:
    """Zipf-distributed content words with a language's stopwords mixed
    in at 25%, drawn by inverse CDF so a whole corpus costs a few numpy
    calls."""

    def __init__(self, rng, vocab):
        self.rng = rng
        self.vocab = vocab
        zipf = 1.0 / (np.arange(len(vocab)) + 10.0)
        self.cdf = np.cumsum(zipf / zipf.sum())

    def draw(self, n):
        i = np.searchsorted(self.cdf, self.rng.random(n))
        return self.vocab[np.minimum(i, len(self.vocab) - 1)]

    def docs(self, langs):
        """One word list per entry of `langs`, 30 to 90 words long, the
        lengths spread evenly and shuffled."""
        lens = self.rng.permutation(np.linspace(30, 90, len(langs)).round().astype(int))
        flat = self.draw(int(lens.sum()))
        stop = self.rng.random(len(flat)) < 0.25
        picks = self.rng.integers(0, 9, len(flat))
        out, at = [], 0
        for lang, n in zip(langs, lens.tolist()):
            w = flat[at:at + n].tolist()
            sw = STOPWORDS[lang]
            if sw:
                for pos in np.nonzero(stop[at:at + n])[0].tolist():
                    w[pos] = sw[picks[at + pos] % len(sw)]
            out.append(w)
            at += n
        return out


def _shuffled(rng, counts):
    """A seeded order of exactly counts[v] copies of each value v."""
    vals = [v for v, k in counts.items() for _ in range(k)]
    return [vals[i] for i in rng.permutation(len(vals))]


def _corpus(rng, words_of, n_base, eval_texts, id_base):
    """Docs with planted exact dups, near-dup clusters, PII, junk and
    eval-slice contamination. Returns (rows, planted) where rows are
    (doc_id, text, lang, source). Every seed plants the same numbers of
    each kind, so seeds differ in content, not in the work they ask for."""
    n_lang = [int(round(p * n_base)) for p in LANG_P]
    n_lang[0] += n_base - sum(n_lang)
    langs = _shuffled(rng, dict(zip(LANGS, n_lang)))
    srcs = rng.integers(0, 20, n_base).tolist()
    n_junk = int(n_base * SIZES["junk_share"])
    junk = _shuffled(rng, {True: n_junk, False: n_base - n_junk})
    n_pii = [int(n_base * f) for f in (0.02, 0.015, 0.015)]
    pii = _shuffled(rng, {"email": n_pii[0], "phone": n_pii[1], "ip": n_pii[2],
                          None: n_base - sum(n_pii)})
    nums = rng.integers(0, 256, (n_base, 4)).tolist()
    bodies = words_of.docs(langs)
    marks = ["###", "!!!", "$$", "@@", "%%", ";;"]
    docs = []  # (words or raw text, lang, source)
    for i in range(n_base):
        lang, src, w, n = langs[i], f"src{srcs[i]}", bodies[i], nums[i]
        if junk[i]:
            noise = " ".join(marks[(n[j % 4] + j) % len(marks)] for j in range(3 + n[3] % 5))
            docs.append((noise + " " + " ".join(w[:4]), lang, src))
            continue
        at = n[0] % len(w)
        if pii[i] == "email":
            w.insert(at, f"user{n[1]}@example.com")
        elif pii[i] == "phone":
            w.insert(at, f"555-{100 + n[1]}-{1000 + n[2] * 30}")
        elif pii[i] == "ip":
            w.insert(at, f"10.{n[1]}.{n[2]}.{n[3]}")
        docs.append((w, lang, src))
    clusters, contaminated = [], []
    prose = [i for i in range(n_base) if not junk[i]]
    # near-dup clusters: each root gets 1-4 lightly edited variants
    n_roots = int(n_base * SIZES["near_dup_root_share"])
    n_variants = _shuffled(rng, {k: n_roots // 4 + (k <= n_roots % 4) for k in (1, 2, 3, 4)})
    for root, k in zip(rng.choice(prose, size=n_roots, replace=False).tolist(), n_variants):
        base = docs[root]
        members = [root]
        for _ in range(k):
            w = list(base[0])
            edits = np.nonzero(rng.random(len(w)) < 0.03)[0].tolist()
            for pos, nw in zip(edits, words_of.draw(len(edits)).tolist()):
                w[pos] = nw
            members.append(len(docs))
            docs.append((w, base[1], f"src{int(rng.integers(20))}"))
        clusters.append(members)
    # exact dups: case / whitespace variants of an existing doc
    n_exact = int(n_base * SIZES["exact_dup_share"])
    for src_i in rng.choice(n_base, size=n_exact, replace=False).tolist():
        base = docs[src_i]
        text = base[0] if isinstance(base[0], str) else " ".join(base[0])
        docs.append((text.upper().replace(" ", "  ", 2) + " ", base[1], base[2]))
    # contamination: splice a 13-word window of an eval doc
    n_cont = int(n_base * SIZES["contaminated_share"])
    for i in rng.choice(prose, size=n_cont, replace=False).tolist():
        w = docs[i][0]
        ev = eval_texts[int(rng.integers(len(eval_texts)))].split(" ")
        s = int(rng.integers(0, max(1, len(ev) - 13)))
        at = int(rng.integers(len(w)))
        docs[i] = (w[:at] + ev[s:s + 13] + w[at:], docs[i][1], docs[i][2])
        contaminated.append(i)
    ids = (id_base + rng.permutation(len(docs)).astype(np.int64) * 3).tolist()
    rows = [(ids[i], w if isinstance(w, str) else " ".join(w), lang, src)
            for i, (w, lang, src) in enumerate(docs)]
    planted = {
        "clusters": [[ids[m] for m in c] for c in clusters],
        "contaminated": [ids[i] for i in contaminated],
    }
    return rows, planted


def _eval_slice(words_of):
    bodies = words_of.docs(["en"] * SIZES["eval_docs"])
    return [(i, " ".join(w), "en", "src0" if i % 2 == 0 else "src1")
            for i, w in enumerate(bodies)]


def _docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
    })


def _write_shards(table, path, n):
    """A corpus is a directory of n parquet files, so its scan splits
    across the session's cores."""
    os.makedirs(path)
    rows = table.num_rows
    for i in range(n):
        lo, hi = rows * i // n, rows * (i + 1) // n
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:03d}.parquet")


def _curate(d, seed):
    rng = _rng(seed, 1)
    words_of = _Words(rng, np.array(_vocab(rng, SIZES["vocab"]), dtype=object))
    ev = _eval_slice(words_of)
    pq.write_table(_docs_table(ev), f"{d}/eval.parquet")
    rows, planted = _corpus(rng, words_of, SIZES["curate_docs"],
                            [r[1] for r in ev], 1000)
    _write_shards(_docs_table(rows), f"{d}/docs", SIZES["curate_shards"])
    with open(f"{d}/planted.json", "w") as f:
        json.dump(planted, f)
    # a smaller corpus of the same kind for the untimed warm-up pass
    warm_words = _Words(_rng(seed, 2), words_of.vocab)
    warm, _ = _corpus(warm_words.rng, warm_words, SIZES["warm_docs"],
                      [r[1] for r in ev], 1000)
    _write_shards(_docs_table(warm), f"{d}/docs_warm", SIZES["curate_shards"])
    return len(rows), planted


DAY0 = np.datetime64("1992-01-01")


def _star(d, seed):
    rng = _rng(seed, 3)
    nc, no, npart, ns = (SIZES["customers"], SIZES["orders"], SIZES["parts"],
                        SIZES["suppliers"])
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{d}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{d}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, nc)]}),
        f"{d}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2))}),
        f"{d}/supplier.parquet")
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(1, npart + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, npart + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, npart)],
        "p_type": [f"TYPE{t}" for t in rng.integers(0, 30, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, npart), 2))}),
        f"{d}/part.parquet")
    odate = DAY0 + rng.integers(0, 2400, no).astype("timedelta64[D]")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(1, no + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2)),
        "o_orderdate": pa.array(odate, pa.date32()),
        "o_orderpriority": [pri[i] for i in rng.integers(0, 5, no)]}),
        f"{d}/orders.parquet")
    per = rng.integers(1, 2 * SIZES["lineitem_per_order"], no)
    lok = np.repeat(np.arange(1, no + 1), per)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    ship = np.repeat(odate, per) + rng.integers(1, 122, nl).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, npart + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, ns + 1, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship, pa.date32())}),
        f"{d}/lineitem.parquet")
    ne, nu = SIZES["events"], SIZES["event_users"]
    ts = np.sort(1_700_000_000 + rng.integers(0, 30 * 86400, ne))
    kinds = ["click", "view", "purchase", "search", "logout"]
    ev = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.int64()),
        "user_id": pa.array(rng.integers(0, nu, ne), pa.int64()),
        "event_type": [kinds[i] for i in rng.integers(0, 5, ne)],
        "value": pa.array(rng.integers(0, 400, ne) * 0.25)})
    pq.write_table(ev, f"{d}/events.parquet")
    with open(f"{d}/events.json", "w") as f:
        for r in ev.to_pylist():
            f.write(json.dumps(r) + "\n")
    pacsv.write_csv(ev, f"{d}/events.csv")
    return nl


def _lake_base(d, seed):
    rng = _rng(seed, 4)
    n = SIZES["lake_rows"]
    k = np.arange(n, dtype=np.int64)
    pq.write_table(pa.table({
        "k": pa.array(k, pa.int64()),
        "grp": pa.array(rng.integers(0, 10, n), pa.int32()),
        "amt": pa.array(rng.integers(0, 400, n) * 0.25),
        "note": [f"n{i}" for i in k]}), f"{d}/lake_base.parquet")


# ---- statements ------------------------------------------------------

LAKE_FMTS = ["delta", "iceberg", "paimon"]


def _date(days):
    return str(DAY0 + np.timedelta64(int(days), "D"))


def _sql_deck(rng):
    """Twelve statements: two scan_agg, two join, three window (running
    sum, top-N, sessionize), two schema_on_read (JSON, CSV) and three
    lake_mor (Delta, Iceberg, Paimon). Every seed sends the same statements
    in the same order; the seed draws only their constants, so seeds differ
    in the rows they touch, not in the work they ask for. `{name}` marks a
    dfs table reference that the harness and the checker each render."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    d1 = int(rng.integers(0, 2000))
    u = int(rng.integers(0, 480))
    deck = [
        ("scan_agg",
         "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty, "
         "sum(l_extendedprice) AS sum_price, avg(l_discount) AS avg_disc "
         "FROM {lineitem.parquet} WHERE l_shipdate <= DATE '%s' "
         "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
         % _date(1900 + 30 * int(rng.integers(0, 5)))),
        ("scan_agg",
         "SELECT p_brand, count(*) AS n, avg(p_retailprice) AS avg_price "
         "FROM {part.parquet} WHERE p_size BETWEEN %d AND %d GROUP BY p_brand ORDER BY p_brand"
         % (lambda a: (a, a + 10))(int(rng.integers(1, 40)))),
        ("join",
         "SELECT n_name, count(*) AS n, sum(o_totalprice) AS total "
         "FROM {orders.parquet} o JOIN {customer.parquet} c ON o.o_custkey = c.c_custkey "
         "JOIN {nation.parquet} n ON c.c_nationkey = n.n_nationkey "
         "WHERE o.o_orderdate >= DATE '%s' AND o.o_orderdate < DATE '%s' "
         "GROUP BY n_name ORDER BY n_name" % (_date(d1), _date(d1 + 365))),
        ("join",
         "SELECT o_orderpriority, count(*) AS n, "
         "sum(l_extendedprice * (1 - l_discount)) AS revenue "
         "FROM {lineitem.parquet} l JOIN {orders.parquet} o ON l.l_orderkey = o.o_orderkey "
         "WHERE o.o_orderdate >= DATE '%s' AND o.o_orderdate < DATE '%s' "
         "GROUP BY o_orderpriority ORDER BY o_orderpriority" % (_date(d1), _date(d1 + 90))),
        ("window",
         "SELECT o_orderkey, o_orderdate, o_totalprice, sum(o_totalprice) OVER "
         "(ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
         "AS running FROM {orders.parquet} WHERE o_custkey = %d" % int(rng.integers(1, 1501))),
        ("window",
         "SELECT c_nationkey, c_custkey, c_acctbal FROM (SELECT c_nationkey, c_custkey, "
         "c_acctbal, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, "
         "c_custkey) AS rn FROM {customer.parquet} WHERE c_mktsegment = '%s') t WHERE rn <= %d"
         % (segs[int(rng.integers(5))], int(rng.integers(2, 6)))),
        ("window",
         "SELECT user_id, event_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, "
         "event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no FROM "
         "(SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id "
         "ORDER BY ts, event_id) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY "
         "ts, event_id) > 43200 THEN 1 ELSE 0 END AS new_s FROM {events.parquet} "
         "WHERE user_id BETWEEN %d AND %d) s" % (u, u + 2)),
        ("schema_on_read",
         "SELECT event_type, count(*) AS n, sum(value) AS total FROM {events.json} "
         "WHERE user_id BETWEEN %d AND %d GROUP BY event_type ORDER BY event_type"
         % (lambda a: (a, a + 249))(int(rng.integers(0, 250)))),
        ("schema_on_read",
         "SELECT event_type, count(*) AS n, max(value) AS mx, min(ts) AS first_ts "
         "FROM {events.csv} WHERE user_id BETWEEN %d AND %d GROUP BY event_type "
         "ORDER BY event_type" % (lambda a: (a, a + 249))(int(rng.integers(0, 250)))),
    ]
    for fmt in LAKE_FMTS:
        deck.append(("lake_mor",
                     "SELECT grp, count(*) AS n, sum(amt) AS s, max(note) AS mx FROM {lake_%s} "
                     "WHERE k BETWEEN %d AND %d GROUP BY grp ORDER BY grp"
                     % ((fmt,) + (lambda a: (a, a + 9999))(int(rng.integers(0, 10000))))))
    # the classes interleaved: scan_agg, join, window, schema_on_read,
    # lake_mor, then again, then the third window and lake_mor statements
    order = [0, 2, 4, 7, 9, 1, 3, 5, 8, 10, 6, 11]
    return [{"cls": deck[i][0], "sql": deck[i][1]} for i in order]


def _delete(rng, fmt):
    """One seeded DELETE; graft and DuckDB run the same text."""
    m, g = int(rng.integers(7, 15)), int(rng.integers(0, 10))
    return {"fmt": fmt, "sql": "DELETE FROM {lake_%s} WHERE k %% %d = %d AND grp = %d"
            % (fmt, m, int(rng.integers(0, m)), g)}


def _statements(d, seed):
    # one seeded deck, sent over and over like a dashboard refresh; the
    # second client starts half a deck in
    deck = _sql_deck(_rng(seed, 10))
    half = len(deck) // 2
    sql = {str(c): (deck[half * c:] + deck[:half * c]) *
           (SIZES["statements_per_client"] // len(deck)) for c in range(2)}
    # set-up DML, one DELETE per table: leaves a Delta deletion vector, an
    # Iceberg position-delete file and Paimon -D frames for the lake_mor
    # reads
    rng = _rng(seed, 20)
    setup = [_delete(rng, fmt) for fmt in LAKE_FMTS]
    with open(f"{d}/statements.json", "w") as f:
        json.dump({"sql": sql, "lake_setup": setup}, f)


def ensure(cache_root, seed):
    d = os.path.join(cache_root, f"{RECIPE}-{int(seed)}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n_docs, planted = _curate(tmp, seed)
    n_line = _star(tmp, seed)
    _lake_base(tmp, seed)
    _statements(tmp, seed)
    with open(os.path.join(tmp, "sizes.json"), "w") as f:
        json.dump({"docs": n_docs, "clusters": len(planted["clusters"]),
                   "near_dup_docs": sum(len(c) - 1 for c in planted["clusters"]),
                   "contaminated": len(planted["contaminated"]),
                   "lineitem": n_line}, f)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
