"""What the benchmark measures and why: workloads, end-to-end metrics and
per-layer metrics, each per-layer metric with the workload it is measured
on and the end-to-end metric it should move. run.py reports exactly these
names; BENCHMARK.json lists the same names, units and directions. Input
sizes are gen.SIZES.

Working set against graft's memos: a sql_interactive deck reads 11 table
paths (5 star-schema parquet files, events as parquet, JSON and CSV, and
the 3 lakehouse tables), none of which change while timed, so graft's
unbounded parquet schema memo and the lakehouse metadata it replays see
the same 11 paths on every statement after warm-up.

Both workloads run on half the host's cores (local[2] on a 4-core host),
leaving the rest to the driver thread, JIT, GC, the front door and the
clients: on a shared host, a run that keeps every core busy measures the
host's scheduler as much as graft.
"""

WORKLOADS = [
    {"name": "curate",
     "why": "LLM-data curation as a batch job: warm passes of the dedup, decontam and "
            "classifier chain over a seeded corpus; pipeline and functions do the work.",
     "loads": ["pipeline (Dedup, Search, Scrub, TextAnalysis)",
               "functions (the Catalyst kernels pipeline calls)", "GraftSession"],
     "bypasses": ["sources front door (QueryServer, DfsSql, DmlSql)",
                  "sources lakehouse readers and writers"],
     "load": "batch, 1 calling thread; set-up makes one untimed pass (JIT, code "
             "generation, memos), then passes repeat until the run's seconds are up, "
             "at least 3, and each step's median over them is reported"},
    {"name": "sql_interactive",
     "why": "Drill users: 2 closed-loop REST clients send short dfs SQL (scan, join, window, "
            "JSON/CSV, lake MOR reads); bound by fixed per-query cost in sources/GraftSession.",
     "loads": ["sources front door (QueryServer, DfsSql, DmlSql)",
               "sources readers (parquet, JSON, CSV, Iceberg, Delta, Paimon)",
               "sources writers (DeltaLogWriter, IcebergTable, PaimonTable and the "
               "DELETE paths of DeltaDml, IcebergTable, PaimonDml) in set-up",
               "GraftSession"],
     "bypasses": ["pipeline", "writers while timed (tables never change then)"],
     "load": "closed loop, 2 clients, next statement only after the answer is fully "
             "read; a seeded 12-statement deck, the same statements for every seed with "
             "seeded constants, sent once in set-up and then repeated while timed"},
]

# Not measured, so that a full comparison round (two builds and about 50
# runs) fits in under an hour on a 4-core host: a DML-commit workload (a
# commit costs about 2 s there, so a run of a few seconds holds 3-4
# commits) and a tail percentile (a run holds about 30 statements; the
# highest percentile with ten samples beyond it is below p70). The writers
# are measured in sql_interactive's set-up instead.

# End-to-end metrics: every workload reports every one of them.
E2E = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25,
     "what": "JVM start until the first timed operation may begin: session, front "
             "door, tables written through graft, warm-up. Input generation excluded."},
    {"name": "items_per_s", "unit": "1/s", "better": "higher", "bound": 0.25,
     "what": {"curate": "input docs per second of a typical pass (curate_docs_per_s)",
              "sql_interactive": "statements answered per second (sql_qps)"}},
    {"name": "latency_ms", "unit": "ms", "better": "lower", "bound": 0.25,
     "what": {"curate": "a typical warm pass of the chain: each step's median over the "
                        "run's passes, summed",
              "sql_interactive": "each deck statement's median latency, sent to fully "
                                 "read, averaged over the deck's statements"}},
    {"name": "cpu_ms_per_item", "unit": "ms", "better": "lower", "bound": 0.25,
     "what": "executor CPU per item of items_per_s, for curate the median over the "
             "passes (x docs/1000 = curate_cpu_s)"},
    {"name": "heap_live_mb", "unit": "MB", "better": "lower", "bound": 0.25,
     "what": "live heap after full GC at the end of the run, workload references dropped"},
]

STEPS = ["score", "exact", "minhash", "canonical", "decontam", "quality_clf", "lang_clf"]
SQL_CLASSES = ["scan_agg", "join", "window", "schema_on_read", "lake_mor"]
SOURCE_FMTS = ["parquet", "json", "csv", "iceberg", "delta", "paimon"]
LAKE_FMTS = ["delta", "iceberg", "paimon"]


def _pl(name, unit, better, workload, moves, count=False):
    return {"name": name, "unit": unit, "better": better, "workload": workload,
            "moves": moves, "count": count}


def per_layer():
    out = []
    for s in STEPS:
        moves = ("items_per_s, cpu_ms_per_item" if s in ("minhash", "decontam")
                 else "items_per_s")
        out += [_pl(f"curate.{s}.ms", "ms", "lower", "curate", moves),
                _pl(f"curate.{s}.cpu_s", "s", "lower", "curate", moves),
                _pl(f"curate.{s}.jobs", "count", "lower", "curate", moves, True),
                _pl(f"curate.{s}.tasks", "count", "lower", "curate", moves, True),
                _pl(f"curate.{s}.shuffle_mb", "MB", "lower", "curate", moves, True),
                _pl(f"curate.{s}.rows_out", "count", "lower", "curate", moves, True)]
    out += [
        _pl("curate.minhash.verify_pairs", "count", "lower", "curate", "cpu_ms_per_item", True),
        _pl("curate.minhash.precision", "ratio", "higher", "curate", "cpu_ms_per_item"),
        _pl("curate.decontam.gram_rows", "count", "lower", "curate", "cpu_ms_per_item", True),
        _pl("curate.decontam.match_ratio", "ratio", "higher", "curate", "cpu_ms_per_item"),
        _pl("curate.canonical.cc_rounds", "count", "lower", "curate", "items_per_s", True),
        _pl("curate.canonical.edges", "count", "lower", "curate", "items_per_s", True),
        _pl("curate.quality_clf.jobs_per_iter", "count", "lower", "curate",
            "items_per_s, cpu_ms_per_item", True),
        _pl("curate.lang_clf.jobs_per_iter", "count", "lower", "curate",
            "items_per_s, cpu_ms_per_item", True),
        _pl("functions.minhash_signature.ms", "ms", "lower", "curate", "cpu_ms_per_item"),
        _pl("functions.token_hashes.ms", "ms", "lower", "curate", "cpu_ms_per_item"),
    ]
    for c in SQL_CLASSES:
        exec_moves = "latency_ms"
        out += [_pl(f"sql.{c}.prejob_ms", "ms", "lower", "sql_interactive", "latency_ms, items_per_s"),
                _pl(f"sql.{c}.exec_ms", "ms", "lower", "sql_interactive", exec_moves),
                _pl(f"sql.{c}.post_ms", "ms", "lower", "sql_interactive", "latency_ms, items_per_s"),
                _pl(f"sql.{c}.jobs", "count", "lower", "sql_interactive", "latency_ms", True),
                _pl(f"sql.{c}.tasks", "count", "lower", "sql_interactive", "latency_ms", True),
                _pl(f"sql.{c}.input_mb", "MB", "lower", "sql_interactive", "latency_ms")]
    out += [_pl(f"sources.{f}.resolve_ms", "ms", "lower", "sql_interactive", "latency_ms")
            for f in SOURCE_FMTS]
    for f in LAKE_FMTS:
        out += [_pl(f"sources.writers.{f}.ms", "ms", "lower", "sql_interactive", "setup_s"),
                _pl(f"sources.dml.{f}.delete_ms", "ms", "lower", "sql_interactive", "setup_s"),
                _pl(f"sources.writers.{f}.files", "count", "lower", "sql_interactive",
                    "latency_ms (lake_mor reads)", True),
                # bytes, but not exact: metadata files carry commit times and ids
                _pl(f"sources.writers.{f}.mb", "MB", "lower", "sql_interactive",
                    "latency_ms (lake_mor reads)"),
                _pl(f"sources.{f}.delete_files_live", "count", "lower", "sql_interactive",
                    "latency_ms (lake_mor reads)", True)]
    out += [_pl("sources.writers.space_amp", "ratio", "lower", "sql_interactive",
                "latency_ms (lake_mor reads)"),
            _pl("setup.session_ms", "ms", "lower", "all", "setup_s"),
            _pl("setup.fixtures_ms", "ms", "lower", "all", "setup_s"),
            _pl("setup.frontdoor_ms", "ms", "lower", "all", "setup_s"),
            _pl("setup.warmup_ms", "ms", "lower", "all", "setup_s"),
            # the tracer's own time (span bookkeeping and listener handlers)
            # as a share of the traced passes' wall; reported, not gated
            _pl("trace.overhead_pct", "%", "lower", "all", "none")]
    return out


PER_LAYER = per_layer()
