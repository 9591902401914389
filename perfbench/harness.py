"""One benchmark run: session, inputs, warm-up, measured ops, checks.

Only public entry points of the program are called: ``get_spark``,
``synthetic``, ``KGPipeline.run`` / ``lineage``, ``integrity_checks``,
the ``graph_queries`` and ``cypher`` functions,
``__spark_entry__.queries()`` and (for the gate self-check)
``components.coreference_edges``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from statistics import mean, median

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import tracer

MIN_BUILDS = 1   # measured fresh builds per run, however short --seconds is
RESUMES = 5      # traced resumes over the traced build's warehouse
REPORTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reports")
#: the non-KG operator heads of bench.py, plus corpus_prep
OPS_HEADS = [
    "agg_pricing_summary", "top_customers", "window_top_orders",
    "interval_join", "events_sessionize", "dedup_exact",
    "dedup_minhash_pairs", "dedup_clusters", "decontaminate",
    "dedup_simhash", "text_stats", "similarity_topk", "similarity_ann_ivf",
    "stratified_sample", "pack_sequences", "bloom_decontaminate",
    "sketch_distinct_rollup", "asof_join_events", "asof_join_bucketed",
    "kg_scc", "corpus_prep",
]
EDGE_COLS = ["id", "type", "src", "dst", "confidence"]


class Bench:
    def __init__(self, args, work: str, size: dict) -> None:
        self.args = args
        self.work = work
        self.size = size
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spans: list[tuple[str, float, float, dict]] = []
        self.spark = None

    # -- bookkeeping ----------------------------------------------------------
    def check(self, op: str, problems: list[str]) -> None:
        """Count one attempted operation; failed if it has problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(f"{op}: {p}" for p in problems)

    def timed(self, op: str, fn, **info):
        t0 = time.time()
        value = fn()
        t1 = time.time()
        self.spans.append((op, t0, t1, info))
        return value, t1 - t0

    # -- session and inputs ---------------------------------------------------
    def session(self, trace: bool):
        from gitnexus_spark.session import get_spark

        w = self.work
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(w, "local"),
            "spark.sql.warehouse.dir": os.path.join(w, "sql-warehouse"),
        }
        if trace:
            os.makedirs(os.path.join(w, "events"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(w, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"})
        spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def make_inputs(self) -> None:
        """Generate the seeded corpus on disk (driver-side, once)."""
        seed, s = self.args.seed, self.size
        self.inp = os.path.join(self.work, "input")
        os.makedirs(self.inp)
        if self.args.workload == "web":
            self.corpus = gen.web_documents(seed, s["docs"])
            pq.write_table(pa.table(self.corpus.rows),
                           os.path.join(self.inp, "documents.parquet"))
        else:
            self.corpus = gen.wide_vocab_pages(seed, s["docs"], s["triples"],
                                               s["vocab"])
            pq.write_table(pa.table(self.corpus.rows),
                           os.path.join(self.inp, "pages.parquet"))
        self.picks = gen.query_picks(seed, self.corpus.targets)

    def load_inputs(self) -> None:
        """Session-side inputs: pages and alias dictionary, pinned."""
        from gitnexus_spark.plans.hints import BROADCAST_MAX_BYTES
        from gitnexus_spark.synthetic import alias_dictionary, synth_pages

        spark = self.spark
        if self.args.workload == "web":
            self.pages = synth_pages(spark, self.inp).persist()
            self.alias = alias_dictionary(spark).persist()
            self.pipe_kw = {}
        else:
            par = spark.sparkContext.defaultParallelism * 2
            self.pages = spark.read.parquet(
                os.path.join(self.inp, "pages.parquet")).repartition(par) \
                .persist()
            self.alias = gen.wide_alias_dictionary(
                spark, self.args.seed, self.corpus.used_aliases,
                self.size["aliases"]).persist()
            # the resolve-join gate in force for this workload (see
            # perfbench/README.md: the shipped 64 MiB gate needs ~265k names)
            self.pipe_kw = {"broadcast_max_bytes":
                            BROADCAST_MAX_BYTES // self.size["gate_div"]}
        # materialized by the warm-up build; each measured build's checks
        # compare the page count with the generator's

    # -- pipeline ops ---------------------------------------------------------
    def build(self, op: str, out: str, fresh: bool):
        from gitnexus_spark.plans.pipeline import KGPipeline

        if fresh:
            shutil.rmtree(out, ignore_errors=True)
        pipe = KGPipeline(self.spark, out, alias_dict=self.alias,
                          **self.pipe_kw)
        res, wall = self.timed(op, lambda: pipe.run(self.pages))
        return pipe, res, wall

    # -- queries --------------------------------------------------------------
    def page_ids(self, nodes) -> None:
        need = set()
        for _kind, a, b in self.picks:
            need.update([a, b], self.corpus.targets[a])
            need.update(t for x in self.corpus.targets[a]
                        for t in self.corpus.targets[x])
        urls = [self.corpus.urls[d] for d in sorted(need)]
        rows = nodes.filter(F.col("label") == "Page") \
            .filter(F.col("url").isin(urls)).select("url", "id").collect()
        by_url = {r["url"]: r["id"] for r in rows}
        self.pid = {d: by_url.get(self.corpus.urls[d]) for d in need}

    def run_queries(self, nodes, edges, out_dir: str) -> dict:
        """One round of the query mix, one closed-loop client; returns
        the latencies by kind."""
        from gitnexus_spark.cypher.compiler import cypher_query
        from gitnexus_spark.operators import graph_queries as gq

        spark, tg, pid, urls = (self.spark, self.corpus.targets, self.pid,
                                self.corpus.urls)

        def ids(d):
            return spark.createDataFrame([(pid[d],)], "id string")

        queries = {
            "top_entities": lambda a, b: gq.top_entities_by_mentions(
                nodes, edges, 10),
            "two_hop": lambda a, b: gq.k_hop(edges, ids(a), 2,
                                             rel_types=["LINKS_TO"]),
            "paths": lambda a, b: gq.paths_between(edges, ids(a), ids(b),
                                                   rel_types=["LINKS_TO"]),
            "edge_lookup": lambda a, b: gq.lookup_edges(
                spark, out_dir, src=pid[a])
            .filter(F.col("type") == "LINKS_TO").select("dst"),
            "search": lambda a, b: gq.search_nodes(
                nodes, f"/p{a}.html").select("id"),
            "cypher": lambda a, b: cypher_query(
                nodes, edges, "MATCH (a:Page)-[:LINKS_TO]->(b:Page) "
                f"WHERE a.url = '{urls[a]}' RETURN b.id AS id"),
        }
        lat: dict[str, list[float]] = {}
        for kind, a, b in self.picks:
            rows, wall = self.timed(
                f"query:{kind}", lambda: queries[kind](a, b).collect(),
                kind=kind)
            problems = _check_query(kind, rows, pid[a], pid[b],
                                    {pid[t] for t in tg[a]},
                                    1 if b in tg[a] else 2)
            self.check(f"query:{kind}", problems)
            lat.setdefault(kind, []).append(wall)
        return lat

    # -- gate self-check ------------------------------------------------------
    def gate_check(self, rows: dict, stats: dict | None = None) -> dict:
        """Which side of each size gate this build ran on, from the
        pipeline's own lineage row counts (no job). With ``stats`` (the
        traced run's ``gate_stats``) the CC gate is checked too."""
        from gitnexus_spark.operators.components import DRIVER_CC_MAX_EDGES
        from gitnexus_spark.plans.hints import (BROADCAST_MAX_BYTES,
                                                EST_ROW_BYTES)

        gate_bytes = self.pipe_kw.get("broadcast_max_bytes",
                                      BROADCAST_MAX_BYTES)
        resolve_rows = rows.get("name_links", 0) + rows.get("canonical_map", 0)
        g = {
            "resolve_rows": resolve_rows,
            "resolve_gate_rows": gate_bytes // EST_ROW_BYTES,
            "resolve_gate_rows_shipped": BROADCAST_MAX_BYTES // EST_ROW_BYTES,
            # past the gate the pipeline drops its broadcast hint and
            # the engine picks the join (see the *.broadcast_joins and
            # *.shuffle_joins layer metrics for what it picked)
            "resolve_side": ("unhinted" if resolve_rows * EST_ROW_BYTES
                             > gate_bytes else "broadcast"),
            "fuzzy_candidates": rows.get("fuzzy_candidates", 0),
            "fuzzy_site_links": rows.get("fuzzy_site_links", 0),
            "cc_gate_edges": DRIVER_CC_MAX_EDGES,
        }
        want: dict = {}
        if stats is not None:
            g.update(stats)
            g["cc_side"] = ("distributed" if stats["cc_edges"]
                            > DRIVER_CC_MAX_EDGES else "driver")
            want["cc_side"] = "driver"
        if self.args.workload == "web":
            want.update(resolve_side="broadcast", fuzzy_candidates=0)
        else:
            want["resolve_side"] = "unhinted"
        problems = [f"{k}={g[k]} (want {v})" for k, v in want.items()
                    if g[k] != v]
        if self.args.workload == "wide_vocab" and not g["fuzzy_site_links"]:
            problems.append("fuzzy_site_links is empty")
        self.check("gate_check", problems)
        return g

    def gate_stats(self, res) -> dict:
        """Coreference-graph edges, fuzzy probe sites and CC merge ratio
        of a finished build (several jobs; traced run only).

        These are benchmark-side estimates, not the program's own
        figures: the coreference graph is rebuilt here from the
        committed name map with a copy of the union that
        ``plans/pipeline.py`` ``p3_canon`` feeds to
        ``canonical_entities``, and the probe sites with a copy of the
        fuzzy stage's site rule. A change to either in the program is
        not followed here."""
        from gitnexus_spark.operators.components import coreference_edges

        nm = res["name_map"]
        linked = (
            nm.filter(F.col("c_alias").isNull() & F.col("c_exact").isNull()
                      & F.col("c_fuzzy").isNotNull())
            .select("name", F.col("c_fuzzy").alias("canonical_name"),
                    F.lit("fuzzy").alias("stage"))
            .unionByName(nm.select("name", F.lit(None).cast("string")
                                   .alias("canonical_name"),
                                   F.lit("endpoint").alias("stage")))
            .unionByName(nm.filter(F.col("c_alias").isNotNull()).select(
                F.col("c_alias").alias("name"),
                F.lit(None).cast("string").alias("canonical_name"),
                F.lit("endpoint").alias("stage"))))
        unresolved = nm.filter(F.col("c_alias").isNull()
                               & F.col("c_exact").isNull()).select("name")
        t = res["triples_raw"]
        canon = res["canonical_map"]
        return {
            "cc_edges": coreference_edges(res["entities"], linked,
                                          self.alias).count(),
            "fuzzy_probe_sites": (
                t.select("doc_url", F.col("subj").alias("name"))
                .unionByName(t.select("doc_url", F.col("obj").alias("name")))
                .join(unresolved, "name", "left_semi")
                .dropDuplicates(["doc_url", "name"]).count()),
            "merge_ratio": canon.count() / max(
                canon.select("canonical").distinct().count(), 1),
        }

    # -- the run --------------------------------------------------------------
    def measure(self, n_builds: int, trace_rows: list | None = None) -> dict:
        """Fresh builds for --seconds (at least ``n_builds``), each
        checked and timed; returns their walls, the last build's result,
        lineage row counts and warehouse."""
        builds: list[float] = []
        t_end = time.time() + self.args.seconds
        i = 0
        while i < n_builds or time.time() < t_end:
            i += 1
            out = os.path.join(self.work, "wh", f"kg-{i}")
            shutil.rmtree(os.path.join(self.work, "wh", f"kg-{i - 1}"),
                          ignore_errors=True)
            pipe, res, wall = self.build("build", out, fresh=True)
            rows = {r["pass"]: r["rows"] for r in pipe.lineage().collect()}
            if trace_rows is not None:
                trace_rows.append(rows)
            self.check("build", _check_counts(res, self.corpus.expected))
            builds.append(wall)
        return {"builds": builds, "last": res, "rows": rows, "out": out}

    def resumes(self, out: str, res, n: int) -> list[float]:
        """``n`` timed resumes over the warehouse ``res`` was built in.

        Afterwards the nodes and edges the last resume reads must have
        the digest of the build's own result. Both read the committed
        files, so the check guards only against a resume that rewrites
        a table; one rewrite fails all ``n``."""
        digest = (_digest(res["nodes"]), _digest(res["edges"]))
        walls = []
        for _ in range(n):
            _pipe, again, wall = self.build("resume", out, fresh=False)
            walls.append(wall)
        got = (_digest(again["nodes"]), _digest(again["edges"]))
        for _ in range(n):
            self.check("resume", [] if got == digest else
                       [f"digest {got} != its build's {digest}"])
        return walls

    def run(self) -> dict:
        t0 = time.time()
        self.spark = self.session(trace=False)
        session_s = time.time() - t0
        t1 = time.time()
        self.make_inputs()
        self.load_inputs()
        input_s = time.time() - t1
        warm_out = os.path.join(self.work, "wh", "warmup")
        self.build("warmup", warm_out, fresh=True)
        warmup_s = time.time() - t1 - input_s
        setup_s = time.time() - t0
        shutil.rmtree(warm_out)
        m = self.measure(MIN_BUILDS)
        self.gate_check(m["rows"])
        if self.args.trace:
            # the untraced schedule above is the reference for
            # pipeline.trace_overhead_frac
            metrics = self.traced(m, {
                "setup.session_s": session_s, "setup.input_s": input_s,
                "setup.warmup_s": warmup_s,
                "setup.peak_rss_mb": peak_rss_mb(self.spark)})
        else:
            metrics = {
                "docs_per_s": (self.corpus.expected.pages
                               / median(m["builds"]), "docs/s"),
                "setup_s": (setup_s, "s"),
            }
        shutdown_spark(self.spark)
        out = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }
        print(f"# session={session_s:.2f} input={input_s:.2f} "
              f"warmup={warmup_s:.2f} total={time.time() - t0:.1f} "
              "ops=" + " ".join(f"{op}:{b - a:.2f}"
                                for op, a, b, _i in self.spans),
              file=sys.stderr)
        if self.errors:
            print("# errors: " + "; ".join(self.errors[:20]), flush=True)
        return out

    def traced(self, untraced: dict, setup: dict) -> dict:
        """In a session with the event log on: one fresh build, resumes
        over its warehouse, the query mix over it, the layout pass and
        the operator heads. Returns the per-layer metrics."""
        self.spark.stop()
        self.spans.clear()
        self.spark = self.session(trace=True)
        self.load_inputs()
        self.pages.count()      # re-pin before the traced build
        self.alias.count()
        rows: list[dict] = []
        m = self.measure(1, trace_rows=rows)
        resumes = self.resumes(m["out"], m["last"], RESUMES)
        gates = self.gate_check(rows[-1], self.gate_stats(m["last"]))
        self.page_ids(m["last"]["nodes"])
        lat = self.run_queries(m["last"]["nodes"], m["last"]["edges"],
                               m["out"])
        ops_dir = os.path.join(self.work, "input", "ops")
        ops_corpus = gen.ops_tables(self.args.seed, ops_dir)
        layer = self.layout(ops_dir, ops_corpus)
        self.ops_suite(ops_dir)
        self.spark.stop()       # flushes the event log
        log = tracer.EventLog.from_dir(os.path.join(self.work, "events"))

        spans = {op: (t0, t1) for op, t0, t1, _i in self.spans}
        layer.update(tracer.build_metrics(log, *spans["build"], rows[-1]))
        layer.update(setup)
        layer["pipeline.trace_overhead_frac"] = (
            median(m["builds"]) / median(untraced["builds"]) - 1)
        layer["resume.wall_s"] = median(resumes)
        layer["resume.jobs"] = tracer.op_metrics(log, *spans["resume"])["jobs"]
        for kind in gen.KINDS:
            layer[f"query.{kind}_ms"] = median(lat[kind]) * 1e3
        q = [(i["kind"], tracer.op_metrics(log, t0, t1))
             for op, t0, t1, i in self.spans if op.startswith("query:")]
        layer["query.jobs_per_query"] = mean(x["jobs"] for _k, x in q)
        layer["query.edge_lookup_files_read"] = median(
            [x["files_read"] for k, x in q if k == "edge_lookup"])
        layer["linking.fuzzy_probe_sites"] = gates["fuzzy_probe_sites"]
        layer["linking.fuzzy_hit_ratio"] = (
            gates["fuzzy_site_links"] / gates["fuzzy_probe_sites"]
            if gates["fuzzy_probe_sites"] else 0.0)
        layer["components.cc_edges"] = gates["cc_edges"]
        layer["components.merge_ratio"] = gates["merge_ratio"]
        for op, t0, t1, _i in self.spans:
            if op.startswith("op:"):
                layer[f"op.{op[3:]}_s"] = t1 - t0

        report = {
            "workload": self.args.workload, "seed": self.args.seed,
            "size": self.args.size, "per_layer": layer, "gates": gates,
            "spans": [(op, t0, t1) for op, t0, t1, _i in self.spans],
        }
        os.makedirs(REPORTS, exist_ok=True)
        with open(os.path.join(
                REPORTS, f"{self.args.workload}-seed{self.args.seed}.json"),
                "w") as f:
            json.dump(report, f, indent=1)
        return {k: (v, _unit(k)) for k, v in layer.items()}

    # -- traced-run extras ----------------------------------------------------
    def layout(self, sf_dir: str, corpus) -> dict:
        """The layout pass over a web-shaped warehouse of the operator
        heads' documents table: a plain build (checked), then
        ``optimize_layout=True`` on the same directory, which runs only
        the z-ordered edge rewrite and the search index. The rewrite
        must hold the same edges."""
        from gitnexus_spark.plans.pipeline import KGPipeline
        from gitnexus_spark.synthetic import alias_dictionary, synth_pages

        out = os.path.join(self.work, "wh", "layout")
        pages = synth_pages(self.spark, sf_dir)
        alias = alias_dictionary(self.spark)
        res = KGPipeline(self.spark, out, alias_dict=alias).run(pages)
        self.check("layout-build", _check_counts(res, corpus.expected))
        pipe = KGPipeline(self.spark, out, alias_dict=alias,
                          optimize_layout=True)
        res, _wall = self.timed("layout", lambda: pipe.run(pages))
        walls = {r["pass"]: r["wall_sec"] for r in pipe.lineage().collect()}
        z = self.spark.read.parquet(os.path.join(out, "edges_zorder"))
        self.check("layout", [] if _digest(z.select(*EDGE_COLS)) == _digest(
            res["edges"].select(*EDGE_COLS)) else
            ["edges_zorder differs from edges"])
        files = sum(
            n.endswith(".parquet") for d in ("edges_zorder", "search_index")
            for _r, _d, names in os.walk(os.path.join(out, d))
            for n in names)
        return {"layout.zorder_s": walls["edges_zorder"],
                "layout.search_index_s": walls["search_index"],
                "layout.files_written": files}

    def ops_suite(self, sf_dir: str) -> None:
        """Each non-KG operator head once over the seeded sf-layout
        tables, written to the noop sink; a head fails if it raises or
        returns no rows."""
        import __spark_entry__

        heads = __spark_entry__.queries()
        for head in OPS_HEADS:
            obs = Observation(f"op_{head}")

            def run(head=head, obs=obs):
                heads[head](self.spark, sf_dir) \
                    .observe(obs, F.count(F.lit(1)).alias("rows")) \
                    .write.format("noop").mode("overwrite").save()
            try:
                self.timed(f"op:{head}", run)
                problems = [] if obs.get["rows"] > 0 else ["no rows"]
            except Exception as e:  # a failing head is a failed op
                problems = [f"{type(e).__name__}: {e}"[:300]]
            self.check(f"op:{head}", problems)


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_ratio", "ratio"),
                         (".skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _check_counts(res, exp) -> list[str]:
    """Integrity counters and generator counts of a finished build."""
    from gitnexus_spark.plans.pipeline import integrity_checks

    problems = [f"{k}={v}" for k, v in
                integrity_checks(res["nodes"], res["edges"]).items() if v]
    got = {
        "pages": res["pages_text"].count(),
        "raw_triples": res["triples_raw"].count(),
        "links_to": res["edges"].filter(F.col("type") == "LINKS_TO").count(),
    }
    return problems + [f"{k} {v} != {getattr(exp, k)}"
                       for k, v in got.items() if v != getattr(exp, k)]


def _digest(df) -> tuple:
    """Order-independent content digest: (rows, xor of row hashes)."""
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.bit_xor(F.xxhash64(*df.columns)).alias("x")).collect()[0]
    return (r["n"], r["x"])


def _check_query(kind: str, rows, a_id, b_id, exp_dst: set,
                 dist: int) -> list[str]:
    if kind == "top_entities":
        n = [r["n_mentions"] for r in rows]
        ok = 0 < len(n) <= 10 and n == sorted(n, reverse=True) and n[-1] >= 1
        return [] if ok else [f"bad ranking {n}"]
    if kind == "two_hop":
        hop = {r["id"]: r["hop"] for r in rows}
        want = {d: 1 for d in exp_dst if d != a_id}
        want[a_id] = 0
        bad = {d: hop.get(d) for d, h in want.items() if hop.get(d) != h}
        return [f"hops {bad}"] if bad or max(hop.values()) > 2 else []
    if kind == "paths":
        ok = rows and all(r["path"][0] == a_id and r["path"][-1] == b_id
                          and r["hops"] == dist == len(r["path"]) - 1
                          for r in rows)
        return [] if ok else [f"paths {len(rows)} rows, want hops {dist}"]
    if kind == "search":
        got = {r["id"] for r in rows}
        return [] if got == {a_id} else [f"search hit {len(got)} nodes"]
    got = {r[0] for r in rows}   # edge_lookup (dst) / cypher (id)
    return [] if got == exp_dst else [f"{len(got)} targets, want "
                                      f"{len(exp_dst)}"]


def _proc_tree(root: int) -> list[int]:
    """``root`` and its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(d))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus its Python worker processes."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    total_kb = 0
    for pid in _proc_tree(jvm):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait until
    the JVM and the Python workers it forked have exited."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    tree = _proc_tree(proc.pid)
    proc.stdin.close()          # the JVM exits when its stdin closes
    proc.wait(timeout=120)
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(p) for p in tree):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
