"""The benchmark's workloads.

Each workload is one closed loop with one caller: the next op starts
only after the previous one returned.  A workload has four phases:

  generate   build every input from the seed (not timed)
  setup      work a user pays once per process before the first op
             (timed together with the JVM start as `setup_s`)
  op(i)      one timed operation
  check      output checks, outside the timed phase (after it, or in
             setup where the check doubles as the warm-up); an op whose
             output fails a check counts as failed

`trace_layers` installs the traced run's spans on the layer entry
points the workload calls into; nothing is patched in an untraced run.
"""

from __future__ import annotations

import importlib
import os
import statistics
from concurrent.futures import ThreadPoolExecutor

from . import gen
from .spans import Patch, Tracer

PKG = "python_sql_datawarehouse_project_spark"


def ingest_plan():
    """The per-client ingest config for the generated landing files:
    one SourceConfig per file, identity column mappings with the bronze
    types, and the V3 required columns."""
    from python_sql_datawarehouse_project_spark.plans.ingest import IngestPlan
    from python_sql_datawarehouse_project_spark.sources.mapping import ColumnMapping
    from python_sql_datawarehouse_project_spark.sources.validation import SourceConfig

    return IngestPlan(
        configs=[
            SourceConfig(system, "csv", stem, table)
            for system, stem, table, _, _ in gen.SOURCES
        ],
        mappings={
            table: [ColumnMapping(c, c, t) for c, t in cols]
            for _, _, table, cols, _ in gen.SOURCES
        },
        required={table: list(req) for _, _, table, _, req in gen.SOURCES},
    )


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under `path`."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class BatchLoad:
    """Each op is one client's landing batch loaded end to end: a fresh
    client registry with that one client, then
    `run_all_clients(mv_mode="full")` (ingest -> silver -> gold -> a full
    refresh of the nine MVs).  A run times exactly one op, whatever the
    window: one op outlasts the window at these sizes, and a second op
    that starts in some runs only (on a fast host) runs warm, so it
    would mix a faster op into some runs' figures and not others'."""

    name = "batch_load"
    SALES = 20_000
    max_ops = min_ops = round_ops = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.landing = os.path.join(work, "landing")
        self.runs: dict = {}  # op -> (manifest entry, ClientRunResult)

    @staticmethod
    def client(i: int) -> str:
        return f"client{i + 1}"

    def generate(self) -> None:
        self.batches = [
            gen.client_batch(self.landing, self.client(i), i, self.seed, self.SALES)
            for i in range(self.max_ops)
        ]
        gen.write_manifest(os.path.join(self.landing, "manifest.json"), self.batches)

    def setup(self, spark) -> None:
        self.spark = spark
        self.plan = ingest_plan()

    def _registry(self, i: int):
        from python_sql_datawarehouse_project_spark.plans.clients import (
            ClientRegistry,
        )

        return ClientRegistry(os.path.join(self.work, "warehouse", f"op{i}"))

    def op(self, i: int) -> None:
        from python_sql_datawarehouse_project_spark.plans import clients

        m, client = self.batches[i], self.client(i)
        reg = self._registry(i)
        reg.register(client)
        sources = clients.ClientSources(
            self.plan,
            {s: os.path.join(m["dir"], s, "incoming") for s in ("crm", "erp")},
        )
        (r,) = clients.run_all_clients(
            self.spark, reg, {client: sources}, mv_mode="full"
        )
        self.runs[i] = (m, r)

    def rows_per(self, cost: list[float]) -> float:
        """Landed source rows per second (wall or CPU) of the timed op."""
        return self.batches[0]["landed_rows"] / cost[0]

    # -- checks --------------------------------------------------------
    def _check_batch(self, m: dict, r, log_rows: dict) -> list[str]:
        bad = [
            f"{f.file}: {f.status} {f.detail}"
            for f in r.ingested
            if f.status != "LOADED"
        ]
        if len(r.ingested) != len(m["files"]):
            bad.append(f"{len(r.ingested)} files ingested, {len(m['files'])} landed")
        for stage, procs in r.results.items():
            for proc, (ok, err, _) in procs.items():
                if not ok:
                    bad.append(f"{stage}.{proc}: {err}")
        for table in ("transformation_log", "integration_log", "mv_refresh_log"):
            rows = [x for x in log_rows[table] if x.get("batch_id") == r.batch_id]
            if not rows or any(x.get("status") != "SUCCESS" for x in rows):
                bad.append(f"{table}: not all SUCCESS for {r.batch_id}")
        loaded = [
            x
            for x in log_rows["file_audit_log"]
            if x.get("batch_id") == r.batch_id and x.get("load_status") == "SUCCESS"
        ]
        if len(loaded) != len(m["files"]):
            bad.append(f"file_audit_log: {len(loaded)} LOADED rows")
        for layer in ("silver", "gold"):
            for proc, (_, _, n) in r.results[layer].items():
                want = m["expected"][layer][proc.removeprefix("load_")]
                if n != want:
                    bad.append(f"{layer}.{proc}: {n} rows, expected {want}")
        return bad

    def check(self, n_ops: int) -> tuple[list[str], dict[int, list[str]]]:
        """(setup failures, op index -> failures)."""
        per_op = {}
        for i in range(n_ops):
            if i not in self.runs:
                continue  # the op raised; already counted as failed
            m, r = self.runs[i]
            reg = self._registry(i)
            log = reg.runlog(self.client(i))
            log_rows = {
                t: log.read(t)
                for t in (
                    "transformation_log",
                    "integration_log",
                    "mv_refresh_log",
                    "file_audit_log",
                )
            }
            per_op[i] = self._check_batch(m, r, log_rows)
        return [], per_op

    def extra(self) -> dict:
        """Warehouse bytes on disk (every layer, not the run log) per
        landed file byte."""
        stored = landed = 0
        for i, (m, _) in self.runs.items():
            root = self._registry(i).client_root(self.client(i))
            stored += dir_bytes(root)[0] - dir_bytes(os.path.join(root, "tools"))[0]
            landed += m["landed_bytes"]
        return {"plans.warehouse.stored_bytes_per_input_byte": stored / landed}

    # -- traced run ----------------------------------------------------
    def trace_layers(self, tracer: Tracer, patch: Patch) -> None:
        from python_sql_datawarehouse_project_spark.plans import (
            clients,
            gold,
            ingest,
            pipeline,
            silver,
        )
        from python_sql_datawarehouse_project_spark.plans.runlog import RunLog
        from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse

        def count_write(n, args, kw):
            wh, _, layer, name, batch_id = args[:5]
            part = os.path.join(wh.path(layer, name), f"dwh_batch_id={batch_id}")
            size, files = dir_bytes(part)
            tracer.count("plans.warehouse.writes")
            tracer.count("plans.warehouse.rows_written", n)
            tracer.count("plans.warehouse.bytes_written", size)
            tracer.count("plans.warehouse.files_written", files)

        def count_ingest(results, args, kw):
            for f in results:
                if f.status == "LOADED":
                    tracer.count("plans.ingest.files_loaded")
                    tracer.count("sources.rows_read", f.rows)
                else:
                    tracer.count("sources.files_failed")

        def count_gold(out, args, kw):
            for ok, err, _ in out.values():
                if not ok and str(err).startswith("SKIPPED"):
                    tracer.count("plans.gold.skipped")

        w = tracer.wrap
        patch.attr(ingest, "read_source", w("sources.read", ingest.read_source))
        patch.attr(ingest, "validate_rows", w("sources.validate", ingest.validate_rows))
        patch.attr(
            ingest, "validate_mapping", w("sources.validate", ingest.validate_mapping)
        )
        patch.attr(
            clients,
            "ingest_directory",
            w("plans.ingest", clients.ingest_directory, count_ingest),
        )
        patch.attr(
            clients, "process_client", w("plans.clients", clients.process_client)
        )
        patch.attr(clients, "run_batch", w("plans.pipeline", clients.run_batch))
        patch.attr(
            pipeline, "run_gold", w("plans.pipeline", pipeline.run_gold, count_gold)
        )
        for name, fn in list(silver.TRANSFORMS.items()):
            patch.item(silver.TRANSFORMS, name, w(f"plans.silver.{name}", fn))
        for name, fn in list(gold.INTEGRATIONS.items()):
            patch.item(gold.INTEGRATIONS, name, w(f"plans.gold.{name}", fn))
        patch.attr(
            pipeline,
            "refresh_mv",
            w(lambda wh, name, *a, **k: f"plans.mv.{name}", pipeline.refresh_mv),
        )
        patch.attr(
            Warehouse,
            "write_batch",
            w("plans.warehouse.write", Warehouse.write_batch, count_write),
        )
        patch.attr(
            Warehouse, "read_table", w("plans.warehouse.read", Warehouse.read_table)
        )
        patch.attr(RunLog, "append", w("plans.runlog.append", RunLog.append))
        patch.attr(RunLog, "read", w("plans.runlog.read", RunLog.read))


# The query pool: every warehouse-parity gate of these modules (each
# has a DuckDB oracle), minus the one that reads the documents table.
POOL_MODULES = ("analytics", "windows", "tpch", "tpch2", "recursive", "reconcile")
POOL_EXCLUDE = ("q42_table_fingerprint",)


def popularity_order() -> tuple[list[str], dict[str, str]]:
    """(pool by popularity rank, gate -> module).  The ranking takes the
    modules' gates in turn (each module's first gate, then each one's
    second, ...), so the popular head spans every module."""
    by_module = []
    for mod in POOL_MODULES:
        m = importlib.import_module(f"{PKG}.operators.{mod}")
        by_module.append((mod, [q for q in m.QUERIES if q not in POOL_EXCLUDE]))
    ranked, module_of = [], {}
    for k in range(max(len(qs) for _, qs in by_module)):
        for mod, qs in by_module:
            if k < len(qs):
                ranked.append(qs[k])
                module_of[qs[k]] = mod
    return ranked, module_of


class QueryMix:
    """One analyst with zero think time: each op runs one gate through
    the noop sink.  The analyst works in rounds; a round is a fixed
    Zipf-weighted deck of gates (popular gates repeat) in a seeded
    order, and a run always finishes the round it started and times at
    least MIN_ROUNDS rounds, so every gate has at least that many
    samples.  Read-only; never touches plans.*.

    Setup checks each gate of the deck once against its DuckDB oracle,
    then runs WARM_ROUNDS rounds of the deck untimed: a fresh JVM needs
    about three rounds before its round time settles (8.6, 7.3, 6.7,
    then 5.6-6.1 s on a 4-core machine), so the timed rounds see warm
    gates only."""

    name = "query_mix"
    LINEITEMS = 20_000
    ROUNDS = 12  # more than a run can reach
    MIN_ROUNDS = 3
    WARM_ROUNDS = 3
    CHECK_THREADS = 3  # gates are independent and their jobs small
    round_ops = gen.DECK
    min_ops = MIN_ROUNDS * gen.DECK

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sf_dir = os.path.join(work, "star")
        self.max_ops = self.ROUNDS * gen.DECK

    def generate(self) -> None:
        self.ranked, self.module_of = popularity_order()
        self.rows = gen.star_tables(self.sf_dir, self.seed, self.LINEITEMS)
        self.deck = gen.query_deck(self.ranked)
        self.sequence = gen.query_sequence(self.seed, self.deck, self.ROUNDS)
        gen.write_manifest(
            os.path.join(self.sf_dir, "manifest.json"),
            {"rows": self.rows, "ranked": self.ranked, "sequence": self.sequence},
        )

    def setup(self, spark) -> None:
        """Each distinct gate of the deck, once, against its DuckDB
        oracle: row by row, or for the gates with large outputs
        (registry.HASHED_AT_SCALE) by row count and order-independent
        md5 hash-sum computed inside each engine."""
        from python_sql_datawarehouse_project_spark import registry
        from python_sql_datawarehouse_project_spark.testing import (
            compare,
            compare_hashed,
        )

        self.spark = spark
        self.queries = registry.queries()
        oracles = registry.oracles()

        def check(name: str):
            cmp = compare_hashed if name in registry.HASHED_AT_SCALE else compare
            return cmp(name, self.queries[name], oracles[name], spark, self.sf_dir)

        with ThreadPoolExecutor(self.CHECK_THREADS) as pool:
            results = list(pool.map(check, dict.fromkeys(self.deck)))
            list(pool.map(self._run, self.deck * self.WARM_ROUNDS))
        self.bad = {
            r.name: f"{r.name}: {r.mismatches[:3]}" for r in results if not r.ok
        }

    def _run(self, name: str) -> None:
        df = self.queries[name](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def op(self, i: int) -> None:
        self._run(self.sequence[i])

    def rows_per(self, cost: list[float]) -> float:
        """Lineitem rows behind each query of a round, per second (wall
        or CPU) of the round as each gate's median op makes it up.  The
        median of a gate's samples keeps a burst of host load, or a
        still-cold first round, out of the figure."""
        by_gate: dict[str, list[float]] = {}
        for i, t in enumerate(cost):
            by_gate.setdefault(self.sequence[i], []).append(t)
        round_s = sum(statistics.median(by_gate[q]) for q in self.deck)
        return len(self.deck) * self.rows["lineitem"] / round_s

    def check(self, n_ops: int) -> tuple[list[str], dict[int, list[str]]]:
        """Ops of a gate that failed its oracle check in setup."""
        return [], {
            i: [self.bad[self.sequence[i]]]
            for i in range(n_ops)
            if self.sequence[i] in self.bad
        }

    def extra(self) -> dict:
        return {}

    def trace_layers(self, tracer: Tracer, patch: Patch) -> None:
        for name, mod in self.module_of.items():
            patch.item(
                self.queries,
                name,
                tracer.wrap(f"operators.build.{mod}", self.queries[name]),
            )

        def traced_run(name: str) -> None:
            df = self.queries[name](self.spark, self.sf_dir)
            with tracer.span(f"operators.exec.{self.module_of[name]}"):
                df.write.format("noop").mode("overwrite").save()

        patch.attr(self, "_run", traced_run)


WORKLOADS = {w.name: w for w in (BatchLoad, QueryMix)}
