"""Answer checks. Every check that fails counts once in `failed`.

- sql_interactive: every answer is compared with DuckDB running the same
  statement on the same generated files; lakehouse reads are compared
  against DuckDB copies of the tables that replay the same seeded DELETEs.
- curate: DuckDB runs graft's own oracle SQL (SparkEntry.oracleSql) for
  decontamination and both classifiers; exact dedup is recomputed in
  DuckDB; minhash pairs, canonical set and planted-pair recall are checked
  by invariants; a per-seed digest of every step's output must repeat.
"""
import glob
import hashlib
import json
import math
import os
import re

import duckdb

NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
THRESHOLD = 0.8


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _key(row):
    return tuple((0, round(float(v), 4)) if _num(v) else (1, "" if v is None else str(v))
                 for v in row)


def same_rows(a, b):
    """Row multisets equal, numbers within 1e-9 relative."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(a, key=_key), sorted(b, key=_key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if _num(x) and _num(y):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif (None if x is None else str(x)) != (None if y is None else str(y)):
                return False
    return True


def _body_rows(body):
    doc = json.loads(body)
    cols = doc["columns"]
    return cols, [tuple(r.get(c) for c in cols) for r in doc["rows"]]


# ---- front-door workloads ---------------------------------------------

def _views(con, inputs):
    for n in ("customer", "orders", "lineitem", "part", "supplier", "nation", "region",
              "events"):
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{inputs}/{n}.parquet')")
    con.execute(f"CREATE VIEW events_json AS SELECT * FROM read_json_auto('{inputs}/events.json')")
    con.execute(f"CREATE VIEW events_csv AS SELECT * FROM read_csv_auto('{inputs}/events.csv', header=true)")
    for f in ("delta", "iceberg", "paimon"):
        con.execute(f"CREATE TABLE lake_{f} AS SELECT * FROM read_parquet('{inputs}/lake_base.parquet')")


def duck_sql(sql):
    def name(m):
        n = m.group(1)
        if n.startswith("lake_"):
            return n
        stem, ext = n.rsplit(".", 1)
        return stem if ext == "parquet" else f"{stem}_{ext}"
    return re.sub(r"\{([A-Za-z0-9_.]+)\}", name, sql)


def _sql(out, inputs):
    """Every answer in ops.jsonl against DuckDB on the same files, with the
    set-up DELETEs replayed on DuckDB copies of the lakehouse tables."""
    stmts = json.load(open(f"{inputs}/statements.json"))
    con = _con()
    _views(con, inputs)
    for n in stmts["lake_setup"]:
        con.execute(duck_sql(n["sql"]))
    cache, failed, problems = {}, 0, []
    for op in map(json.loads, open(f"{out}/ops.jsonl")):
        if not op["ok"]:
            continue  # already counted by the harness
        sql = duck_sql(op["sql"])
        if sql not in cache:
            cache[sql] = con.execute(sql).fetchall()
        cols, rows = _body_rows(op["body"])
        if not same_rows(rows, cache[sql]):
            failed += 1
            if len(problems) < 5:
                problems.append(f"{op['cls']} answer differs from DuckDB: {op['sql'][:160]} "
                                f"got {rows[:3]} want {cache[sql][:3]}")
    return {"failed": failed, "problems": problems}


# ---- curate -------------------------------------------------------------

def _materialized(sql):
    """graft's oracle SQL with every CTE computed once (DuckDB otherwise
    inlines a CTE at each reference, and the unrolled classifier
    iterations reference theirs many times). Same rows either way."""
    return re.sub(r"(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def _pq(out, name):
    return f"read_parquet('{out}/{name}/*.parquet')"


def _tokens(text):
    return {t for t in " ".join(text.lower().split()).split(" ") if t}


def _jaccard(a, b):
    return len(a & b) / len(a | b) if (a or b) else 0.0


def _curate(out, inputs):
    con = _con()
    wrong_steps, problems = set(), []

    def expect(ok, what):
        """A failed check marks its step's answer wrong (once per step)."""
        if not ok:
            wrong_steps.add(what.split(":")[0])
            problems.append("curate: " + what)

    con.execute(f"CREATE TABLE scored AS SELECT * FROM {_pq(out, 'scored')}")
    ids = lambda q: {r[0] for r in con.execute(q).fetchall()}
    # score: floor and language filter hold, PII is gone
    bad = con.execute("SELECT count(*) FROM scored WHERE quality_bp < 3000 OR lang_id = 'und' "
                      "OR text LIKE '%@example.com%'").fetchone()[0]
    expect(bad == 0, f"score: {bad} rows violate the quality floor, language filter or redaction")
    # exact: lowest id per normalized text
    exact = ids(f"SELECT doc_id FROM {_pq(out, 'exact')}")
    want = ids(f"SELECT min(doc_id) FROM scored GROUP BY {NORM}")
    expect(exact == want, f"exact: {len(exact ^ want)} ids differ from DuckDB")
    # minhash: every pair verifies, planted near-dups are found
    text = dict(con.execute("SELECT doc_id, text FROM scored").fetchall())
    toks = {}
    tok = lambda i: toks.setdefault(i, _tokens(text[i]))
    pairs = con.execute(f"SELECT id_a, id_b, jaccard FROM {_pq(out, 'pairs')}").fetchall()
    wrong = [p for p in pairs if not (p[0] < p[1] and p[0] in exact and p[1] in exact and
             abs(_jaccard(tok(p[0]), tok(p[1])) - p[2]) <= 1e-6 and p[2] >= THRESHOLD)]
    expect(not wrong, f"minhash: {len(wrong)} pairs fail the recomputed Jaccard, e.g. {wrong[:2]}")
    found = {(a, b) for a, b, _ in pairs}
    planted = json.load(open(f"{inputs}/planted.json"))["clusters"]
    missed = []
    for c in planted:
        m = sorted(i for i in c if i in exact)
        for x in range(len(m)):
            for y in range(x + 1, len(m)):
                if _jaccard(tok(m[x]), tok(m[y])) >= THRESHOLD + 1e-9 and (m[x], m[y]) not in found:
                    missed.append((m[x], m[y]))
    expect(not missed, f"minhash: {len(missed)} planted near-dup pairs missed, e.g. {missed[:2]}")
    # canonical: docs minus the non-minimum members of each component
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    drop = {x for x in parent if find(x) != x}
    canonical = ids(f"SELECT doc_id FROM {_pq(out, 'canonical')}")
    expect(canonical == exact - drop, f"canonical: {len(canonical ^ (exact - drop))} ids differ")
    oracle = {k: _materialized(v) for k, v in json.load(open(f"{out}/oracle_sql.json")).items()}
    # decontam: graft's own oracle, eval slice as ids < 50
    con.execute(f"CREATE TABLE canon AS SELECT s.* FROM scored s JOIN {_pq(out, 'canonical')} c "
                f"USING (doc_id)")
    con.execute(f"CREATE VIEW documents AS SELECT doc_id, text, lang, source FROM canon "
                f"UNION ALL SELECT doc_id, text, lang, source FROM "
                f"read_parquet('{inputs}/eval.parquet')")
    got = con.execute(f"SELECT doc_id, n_shared FROM {_pq(out, 'flagged')}").fetchall()
    want = con.execute(f"SELECT doc_id, n_shared FROM ({oracle['q_ngram_decontam']})").fetchall()
    expect(same_rows(got, want), f"decontam: {len(got)} flagged rows vs oracle {len(want)}")
    clean = ids(f"SELECT doc_id FROM {_pq(out, 'clean')}")
    expect(clean == canonical - {r[0] for r in got}, "decontam: clean set is not canonical minus flagged")
    # classifiers: graft's oracles over the classifier input
    con.execute("DROP VIEW documents")
    con.execute(f"CREATE TABLE documents AS SELECT doc_id, text, lang, source FROM canon "
                f"WHERE doc_id IN (SELECT doc_id FROM {_pq(out, 'clean')})")
    for name, q, cols in (("quality", "q_quality_clf", "doc_id, q_score"),
                          ("lang", "q_lang_clf", "doc_id, lang, p")):
        got = con.execute(f"SELECT {cols} FROM {_pq(out, name)}").fetchall()
        want = con.execute(f"SELECT {cols} FROM ({oracle[q]})").fetchall()
        close = len(got) == len(want) and all(
            a[:-1] == b[:-1] and abs(a[-1] - b[-1]) <= 1.5e-6
            for a, b in zip(sorted(got), sorted(want)))
        expect(close, f"{name}_clf: {len(got)} rows differ from the oracle ({len(want)} rows)")
    sums = con.execute(f"SELECT count(*) FROM (SELECT doc_id, sum(p) s FROM {_pq(out, 'lang')} "
                       f"GROUP BY doc_id) WHERE abs(s - 1) > 1e-4").fetchone()[0]
    expect(sums == 0, f"lang_clf: {sums} docs whose probabilities do not sum to 1")
    # the same seed must give the same outputs, run after run
    h = hashlib.sha256()
    for name, cols in (("exact", "doc_id"), ("pairs", "id_a, id_b, round(jaccard, 6)"),
                       ("canonical", "doc_id"), ("flagged", "doc_id, n_shared"),
                       ("quality", "doc_id, round(q_score, 6)"),
                       ("lang", "doc_id, lang, round(p, 6)")):
        for r in con.execute(f"SELECT {cols} FROM {_pq(out, name)} ORDER BY ALL").fetchall():
            h.update(repr(r).encode())
    digest_file = f"{inputs}/digest_curate.txt"
    digest = h.hexdigest()
    if os.path.exists(digest_file):
        prev = open(digest_file).read().strip()
        expect(prev == digest, f"digest: outputs {digest[:12]} differ from this seed's "
                               f"earlier {prev[:12]}")
    else:
        open(digest_file, "w").write(digest)
    return {"failed": len(wrong_steps), "problems": problems}


def run_all(out, inputs):
    """Checks every workload whose outputs the run left in `out`."""
    total = {"failed": 0, "problems": []}
    for w, check in (("curate", _curate), ("sql_interactive", _sql)):
        d = os.path.join(out, w)
        if w == "curate" and not glob.glob(f"{d}/lang/*.parquet"):
            continue  # not run, or a step failed and the harness counted it
        if w == "sql_interactive" and not os.path.exists(f"{d}/ops.jsonl"):
            continue
        r = check(d, inputs)
        total["failed"] += r["failed"]
        total["problems"] += r["problems"]
    return total


def counts_repeat(inputs, counts):
    """Compares this traced run's exact counts with the first traced run of
    the same seed; returns which repeat."""
    f = f"{inputs}/counts_trace.json"
    if not os.path.exists(f):
        json.dump(counts, open(f, "w"))
        return {"first_run": True, "counts": len(counts)}
    prev = json.load(open(f))
    differ = sorted(n for n in counts if n in prev and prev[n] != counts[n])
    return {"first_run": False, "counts": len(counts), "repeat": len(counts) - len(differ),
            "differ": {n: [prev[n], counts[n]] for n in differ}}
