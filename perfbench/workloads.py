"""The benchmark workloads, driven by one closed-loop client.

Each workload has a ``prepare`` that generates and writes the inputs of a
run before any timing starts, a ``setup`` (timed into ``setup_s``), a
``cycles`` generator that runs a fixed number of whole cycles of operations,
one per step (a CDC batch and its reads, or a crawl shard and its probes;
the next call is issued only after the previous one returned), and a
``check`` that compares the final state with the generator's closed-form
expectation. Every operation and every check counts in ``attempted``; a
flow returning errors, any operation raising, or a result differing from
the expectation counts in ``failed``.

The program runs with its defaults: ``get_spark`` on all local cores, and
``MallardSparkVault`` with only the database names set.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpusgen
import vaultgen
from tracing import Tracer

#: vault size: TPC-H sf0.01 (1 500 customers, 15 000 orders, ~60 000
#: lineitems), a tenth of sf0.1 so that a whole run stays near one minute
N_CUSTOMERS = 1500
LOOKUPS_PER_KIND = 2
#: read mixes after each CDC batch; a read's CPU varies by up to a third
#: from call to call, so one mix is too few samples
READ_PASSES = 2
CORPUS_DOCS = 2000
IVF_CENTROIDS = 16
NEARDUP_THRESHOLD = 0.7
#: IVF probe calls per shard, each over a twelfth of its embeddings; the
#: CPU per read is a mean, so it takes many short probes to average out
#: the host's bursts of CPU steal
PROBE_PARTS = 12
#: the warm-up shard set-up runs: a quarter of a measured shard, and
#: probe calls over its embeddings
WARMUP_PLANTED = corpusgen.PLANTED // 4
WARMUP_PROBES = 2
#: share of planted pairs a probe must find / rank for the run to be correct
MIN_RECALL = 0.9


def dir_stats(paths: list[str]) -> tuple[int, int]:
    """(bytes, data files) under ``paths``; Spark's checksum and commit
    marker files are not data."""
    size = files = 0
    for path in paths:
        for dirpath, _dirs, names in os.walk(path):
            for n in names:
                if not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
    return size, files


@dataclass
class FlowRecord:
    """One write operation: a flow (or a curation shard) and what it staged."""

    source: str
    rows: int
    in_bytes: int
    span: object = None
    #: traced runs: expected table row counts around the flow, and the
    #: distinct keys / rows it staged per table
    counts_before: dict = field(default_factory=dict)
    counts_after: dict = field(default_factory=dict)
    staged: dict = field(default_factory=dict)


class Workload:
    """Operation accounting, and the flow records the metrics come from.
    A workload adds ``prepare``, ``setup``, ``cycles``, ``check``,
    ``storage_dirs`` (where it writes) and ``layer_metrics``; the runner
    sets ``spark`` between ``prepare`` and ``setup``."""

    name = ""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, n_cycles: int = 1):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.n_cycles = n_cycles
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.flows: list[FlowRecord] = []
        self.window_start = 0.0
        self.storage_start = (0, 0)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def attempt(self, what: str, fn) -> tuple[bool, object]:
        """One operation: (True, its result), or (False, None) when it
        raised, which counts as a failure."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as ex:  # a raising operation is a failed one
            self.fail(f"{what} raised {type(ex).__name__}: {ex}")
            return False, None

    def read(self, kind: str, fn, expected) -> None:
        """One timed read; its result must equal ``expected``."""
        def timed():
            with self.tracer.span(f"read.{kind}"):
                return fn()

        ok, got = self.attempt(f"read.{kind}", timed)
        if ok and got != expected:
            self.fail(f"read.{kind}: got {str(got)[:300]} expected {str(expected)[:300]}")

    def begin_window(self, now: float) -> None:
        self.window_start = now
        if self.tracer.layers:
            self.storage_start = dir_stats(self.storage_dirs())

    def measured_flows(self) -> list[FlowRecord]:
        return [f for f in self.flows if f.span.start >= self.window_start]

    def storage_metrics(self) -> dict:
        """Bytes and files the measured window wrote, per input byte / flow."""
        flows = self.measured_flows()
        size, files = dir_stats(self.storage_dirs())
        in_bytes = sum(f.in_bytes for f in flows)
        return {
            "storage.bytes_written_per_input_byte":
                (size - self.storage_start[0]) / in_bytes if in_bytes else 0.0,
            "storage.files_written_per_flow":
                (files - self.storage_start[1]) / len(flows) if flows else 0.0,
        }


# ---------------------------------------------------------------------------
# vault workload
# ---------------------------------------------------------------------------


def vault_dbs(prefix: str) -> dict[str, str]:
    return {k: f"{prefix}_{k[:-3]}" for k in
            ("stg_db", "dv_db", "bv_db", "dm_db", "metadata_db")}


class VaultIncremental(Workload):
    """Small recurring loads against a large history, each batch followed by
    a fixed read mix over the vault."""

    name = "vault_incremental"

    def __init__(self, spark, tracer, work, seed, n_cycles=1):
        super().__init__(spark, tracer, work, seed, n_cycles)
        self.tables_csv = os.path.join(work, "tables.csv")
        self.transitions_csv = os.path.join(work, "transitions.csv")
        with open(self.tables_csv, "w") as fh:
            fh.write(vaultgen.TABLES_CSV)
        with open(self.transitions_csv, "w") as fh:
            fh.write(vaultgen.TRANSITIONS_CSV)
        self.vault = None
        self.dbs: dict[str, str] = {}
        self.model = vaultgen.VaultModel()
        self.input_bytes = 0       # bytes loaded into the vault

    def prepare(self) -> None:
        """The bootstrap and the batches a run measures, with the bootstrap
        already applied to the expectation."""
        tables = vaultgen.tpch_tables(self.seed, N_CUSTOMERS)
        self.boot, self.batches = vaultgen.incremental_flows(
            self.seed, tables, self.n_cycles)
        self.write_inputs(self.boot, "boot")
        for b, flows in enumerate(self.batches):
            self.write_inputs(flows, f"b{b:02d}")
        for f in self.boot:
            self.model.apply(f)
        self.rng = np.random.default_rng(self.seed + 2)

    def setup(self) -> None:
        self.new_vault("inc")
        for f in self.boot:
            self.execute(f, "bootstrap")
        # one read mix over the bootstrapped vault compiles the read paths
        self.read_mix(0, self.boot)

    def new_vault(self, prefix: str) -> None:
        from mallarddv_spark import MallardSparkVault

        self.dbs = vault_dbs(prefix)
        self.vault = MallardSparkVault(self.spark, **self.dbs)
        def init():
            with self.tracer.span("vault.init"):
                return self.vault.init_vault(self.tables_csv, self.transitions_csv)

        ok, errors = self.attempt("init_vault", init)
        if ok and errors:
            self.fail(f"init_vault: {errors}")

    def write_inputs(self, flows: list[vaultgen.Flow], tag: str) -> None:
        os.makedirs(os.path.join(self.work, "in"), exist_ok=True)
        for f in flows:
            vaultgen.write_flow(f, os.path.join(self.work, "in", f"{tag}_{f.source}.parquet"))

    def storage_dirs(self) -> list[str]:
        return [os.path.join(self.work, "wh", f"{self.dbs['dv_db']}.db")]

    def execute(self, f: vaultgen.Flow, record_source: str):
        """One timed execute_flow call; returns its span."""
        span = None

        def run():
            nonlocal span
            with self.tracer.span("flow.executor") as span:
                return self.vault.execute_flow(
                    f.source, record_source, f.path, load_date_overwrite=f.load_dts
                )

        ok, errors = self.attempt(f"execute_flow {f.source}", run)
        self.input_bytes += f.in_bytes
        if ok and errors:
            self.fail(f"execute_flow {f.source}: {errors}")
        return span

    def flow(self, f: vaultgen.Flow, record_source: str) -> None:
        """One recorded flow; the expectation follows it. A traced run takes
        the tables' row counts around it from the expectation."""
        rec = FlowRecord(f.source, len(f.rows), f.in_bytes)
        if self.tracer.layers:
            rec.counts_before = self.model.row_counts()
            rec.staged = vaultgen.staged_keys(f)
        rec.span = self.execute(f, record_source)
        self.flows.append(rec)
        self.model.apply(f)
        if self.tracer.layers:
            rec.counts_after = self.model.row_counts()

    def check(self) -> None:
        """Row counts of every hub, link and sat, and an order-insensitive
        checksum of every current view, against the closed form."""
        expected = self.model.row_counts()
        dv = self.dbs["dv_db"]
        q = " UNION ALL ".join(
            f"SELECT '{t}' AS t, count(*) AS n FROM {dv}.{t}" for t in expected
        )
        ok, got = self.attempt("row counts", lambda: {
            r.t: r.n for r in self.spark.sql(q).collect()})
        if ok and got != expected:
            self.fail(f"row counts: got {got} expected {expected}")
        sums = self.model.cv_checksums()
        q = " UNION ALL ".join(
            f"SELECT '{s}' AS sat, * FROM ({vaultgen.cv_checksum_sql(self.dbs['bv_db'], s)})"
            for s in vaultgen.SATS
        )
        ok, got_cs = self.attempt("current-view checksums", lambda: {
            r.sat: (r.n, r.cs) for r in self.spark.sql(q).collect()})
        if ok and got_cs != sums:
            self.fail(f"current-view checksums: got {got_cs} expected {sums}")

    def layer_metrics(self) -> dict:
        flows = self.measured_flows()
        out = self.storage_metrics()

        def delta(kind: int) -> tuple[int, int, int, int]:
            written = staged = before = n = 0
            for f in flows:
                for t in vaultgen.FLOW_TARGETS[f.source][kind]:
                    written += f.counts_after.get(t, 0) - f.counts_before.get(t, 0)
                    staged += f.staged.get(t, 0)
                    before += f.counts_before.get(t, 0)
                    n += 1
            return written, staged, before, n

        for layer, kind in (("hub", 0), ("link", 1)):
            ins, staged, _, _ = delta(kind)
            out[f"operators.{layer}.insert_ratio"] = ins / staged if staged else 0.0
        versions, staged, history, n_sat = delta(2)
        out["operators.satellite.change_ratio"] = versions / staged if staged else 0.0
        out["operators.satellite.history_rows"] = history / n_sat if n_sat else 0.0
        size, files = dir_stats(self.storage_dirs())
        out["storage.dv_files_total"] = files
        out["storage.vault_bytes_per_input_byte"] = size / self.input_bytes
        return out

    def cycles(self):
        for b in range(self.n_cycles):
            self.batch(b)
            yield

    def batch(self, b: int) -> None:
        """CDC batch ``b``'s three flows, then READ_PASSES read mixes."""
        for f in self.batches[b]:
            self.flow(f, "cdc")
        for _ in range(READ_PASSES):
            self.read_mix(b, self.batches[b])

    def read_mix(self, b: int, flows: list[vaultgen.Flow]) -> None:
        dv, bv = self.dbs["dv_db"], self.dbs["bv_db"]
        sql = self.vault.sql
        m = self.model
        cust_keys = [r[0] for r in flows[0].rows]
        order_keys = [r[0] for r in flows[1].rows]
        old_orders = list(range(1, len(self.boot[1].rows) + 1))
        for i in range(LOOKUPS_PER_KIND):
            ck = int(self.rng.choice(cust_keys))
            self.read("lookup", lambda k=ck: [tuple(r) for r in sql(
                f"SELECT s.name, s.acctbal, s.del_flag FROM {dv}.hub_customer h "
                f"JOIN {bv}.hsat_customer_details_cv s ON s.customer_hk = h.customer_hk "
                "WHERE h.custkey_bk = :k", args={"k": k}).collect()],
                [m.customer(ck)])
            ok = int(self.rng.choice(order_keys if i == 0 else old_orders))
            self.read("lookup", lambda k=ok: [tuple(r) for r in sql(
                f"SELECT s.status, s.totalprice FROM {dv}.hub_order h "
                f"JOIN {bv}.hsat_order_details_cv s ON s.order_hk = h.order_hk "
                "WHERE h.orderkey_bk = :k", args={"k": k}).collect()],
                [m.order(ok)])
            self.read("lookup", lambda k=ok: [tuple(r) for r in sql(
                f"SELECT l.linenumber_dk, s.linestatus FROM {dv}.hub_order h "
                f"JOIN {dv}.link_order_part_supplier l ON l.order_hk = h.order_hk "
                f"JOIN {bv}.lsat_lineitem_details_cv s "
                "ON s.order_part_supplier_hk = l.order_part_supplier_hk "
                "WHERE h.orderkey_bk = :k ORDER BY 1", args={"k": k}).collect()],
                m.order_lines(ok))
        self.read("scan", lambda: {r.status: (r.n, r.total) for r in sql(
            "SELECT status, count(*) AS n, sum(totalprice) AS total "
            f"FROM {bv}.hsat_order_details_cv GROUP BY status").collect()},
            m.status_totals())
        self.read("mart", lambda: {r.segment: (r.n, r.total) for r in sql(
            "SELECT c.segment, count(DISTINCT h.orderkey_bk) AS n, "
            "sum(o.totalprice) AS total "
            f"FROM {dv}.hub_order h "
            f"JOIN {dv}.link_order_customer l ON l.order_hk = h.order_hk "
            f"JOIN {bv}.hsat_order_details_cv o ON o.order_hk = l.order_hk "
            f"JOIN {bv}.hsat_customer_details_cv c ON c.customer_hk = l.customer_hk "
            "WHERE NOT c.del_flag GROUP BY c.segment").collect()},
            m.segment_revenue())
        snaps = [vaultgen.LOAD_TS0, vaultgen.LOAD_TS0 + dt.timedelta(days=(b + 1) // 2),
                 flows[0].load_ts]
        self.read("pit", lambda: self.pit(snaps), m.pit_counts(snaps))

    def pit(self, snaps: list[dt.datetime]) -> tuple[int, int, int]:
        from pyspark.sql import functions as F

        from mallarddv_spark.operators.asof import pit_table

        dv = self.dbs["dv_db"]
        arr = ", ".join(f"timestamp'{s:%Y-%m-%d %H:%M:%S}'" for s in snaps)
        pit = pit_table(
            {"details": self.spark.table(f"{dv}.hsat_order_details"),
             "terms": self.spark.table(f"{dv}.hsat_order_terms")},
            "order_hk",
            self.spark.sql(f"SELECT explode(array({arr})) AS snapshot_ts"),
        )
        r = pit.agg(F.count("*"), F.count("details_load_dts"),
                    F.count("terms_load_dts")).first()
        return (r[0], r[1], r[2])


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def _write_docs(path: str, docs: list[tuple[int, str]]) -> int:
    ids, texts = zip(*docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    return os.path.getsize(path)


def _write_vectors(path: str, ids: list[int], vectors: np.ndarray) -> int:
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                             "embedding": pa.array(vectors.tolist(),
                                                   pa.list_(pa.float64()))}), path)
    return os.path.getsize(path)


class CurationCrawl(Workload):
    """Crawl shards through quality filter, exact dedup, near-dup probe
    against a growing MinHash index, decontamination and index append, plus
    an IVF top-k probe of each shard's embeddings. Never touches the vault."""

    name = "curation_crawl"

    def prepare(self) -> None:
        """The corpus, its embeddings, the benchmark set, and the shards a
        run measures."""
        self.corpus = corpusgen.corpus(self.seed, CORPUS_DOCS)
        d = os.path.join(self.work, "in")
        os.makedirs(d, exist_ok=True)
        _write_docs(f"{d}/corpus.parquet", self.corpus.docs)
        _write_docs(f"{d}/bench.parquet", self.corpus.bench)
        _write_vectors(f"{d}/corpus_vec.parquet",
                       [i for i, _ in self.corpus.docs], self.corpus.vectors)
        # the last shard is the warm-up one set-up runs
        self.shards = [corpusgen.shard(self.seed, i, self.corpus)
                       for i in range(self.n_cycles)]
        self.shards.append(corpusgen.shard(self.seed, self.n_cycles, self.corpus,
                                           planted=WARMUP_PLANTED))
        self.shard_bytes = [
            _write_docs(f"{d}/shard{sh.index}.parquet", sh.docs)
            + _write_vectors(f"{d}/shard{sh.index}_vec.parquet",
                             [k for k, _ in sh.docs], sh.vectors)
            for sh in self.shards
        ]

    def setup(self) -> None:
        from mallarddv_spark.operators.dedup import build_minhash_index
        from mallarddv_spark.operators.similarity import build_ivf_index

        d = os.path.join(self.work, "in")
        self.minhash_path = os.path.join(self.work, "idx", "minhash")
        self.ivf_path = os.path.join(self.work, "idx", "ivf")
        with self.tracer.span("setup.minhash_index"):
            build_minhash_index(self.spark.read.parquet(f"{d}/corpus.parquet"),
                                self.minhash_path)
        with self.tracer.span("setup.ivf_index"):
            build_ivf_index(self.spark.read.parquet(f"{d}/corpus_vec.parquet"),
                            self.ivf_path, n_centroids=IVF_CENTROIDS)
        self.bench = self.spark.read.parquet(f"{d}/bench.parquet")
        self.indexed = len(self.corpus.docs)
        self.reset_recall()
        with self.tracer.span("setup.warmup"):
            # a first shard and probe pay the pipeline's one-off code
            # generation and JIT warm-up (about 5 CPU-seconds, and uneven),
            # so the measured shards run warm; the warm-up shard is checked
            # like the others and its survivors stay in the index
            if self.pipeline(self.shards[-1], self.shard_bytes[-1]):
                self.probe(self.shards[-1], WARMUP_PROBES)
        self.reset_recall()

    def reset_recall(self) -> None:
        self.recall: dict[str, list[int]] = {"neardup": [0, 0], "precision": [0, 0],
                                             "decontam": [0, 0]}

    def storage_dirs(self) -> list[str]:
        return [self.minhash_path]

    def cycles(self):
        for sh, in_bytes in zip(self.shards[:-1], self.shard_bytes):
            if self.pipeline(sh, in_bytes):
                self.probe(sh)
            yield

    def pipeline(self, sh: corpusgen.Shard, in_bytes: int) -> bool:
        """A shard through the curation pipeline, its planted properties
        checked; False if a stage raised."""
        rec = FlowRecord("shard", len(sh.docs), in_bytes)
        ok, _ = self.attempt(f"shard {sh.index}", lambda: self.curate(sh, rec))
        self.flows.append(rec)
        return ok

    def curate(self, sh: corpusgen.Shard, rec: FlowRecord) -> None:
        from pyspark.sql import functions as F

        from mallarddv_spark.operators.curation import decontaminate
        from mallarddv_spark.operators.dedup import (
            exact_dedup,
            minhash_index_append,
            neardup_against_index,
        )
        from mallarddv_spark.operators.textops import quality_filter

        span = self.tracer.span
        with span("curation.shard") as rec.span:
            raw = self.spark.read.parquet(f"{self.work}/in/shard{sh.index}.parquet")
            with span("operators.textops.quality_filter"):
                qf = quality_filter(raw, "text").localCheckpoint(eager=True)
            kept = qf.filter("qf_keep").select("doc_id", "text")
            with span("operators.dedup.exact_dedup"):
                ex = exact_dedup(kept, "doc_id", "text").localCheckpoint(eager=True)
            with span("operators.dedup.neardup_against_index"):
                nd = neardup_against_index(
                    ex, self.minhash_path, threshold=NEARDUP_THRESHOLD
                ).localCheckpoint(eager=True)
            remaining = ex.join(nd.select(F.col("new_id").alias("doc_id")),
                                "doc_id", "left_anti")
            with span("operators.curation.decontaminate"):
                dc = decontaminate(remaining, self.bench, "doc_id", "text",
                                   bench_id_col="doc_id").localCheckpoint(eager=True)
            survivors = remaining.join(dc.filter("contaminated").select("doc_id"),
                                       "doc_id", "left_anti")
            with span("operators.dedup.minhash_index_append"):
                minhash_index_append(survivors, self.minhash_path)
        self.check_shard(sh, qf, ex, nd, dc)
        self.indexed += survivors.count()

    def probe(self, sh: corpusgen.Shard, calls: int = PROBE_PARTS) -> None:
        """Top-k IVF probes of the shard's embeddings: the first ``calls``
        of PROBE_PARTS disjoint slices of the shard, one read each."""
        from pyspark.sql import functions as F

        from mallarddv_spark.operators.similarity import ivf_probe_topk

        vec = self.spark.read.parquet(f"{self.work}/in/shard{sh.index}_vec.parquet")
        for part in range(calls):
            ids = {k for k, _ in sh.docs if k % PROBE_PARTS == part}
            queries = vec.filter(F.col("vec_id") % PROBE_PARTS == part)
            self.read("ivf_probe", lambda q=queries, ids=ids: self.ivf_recall(
                ivf_probe_topk(q, self.ivf_path, k=5, nprobe=3).collect(), sh, ids),
                True)

    def ivf_recall(self, rows, sh: corpusgen.Shard, ids: set[int]) -> bool:
        """Every query answered, and planted near-duplicates ranked."""
        top: dict[int, set] = {}
        for r in rows:
            top.setdefault(r.query_id, set()).add(r.neighbor_id)
        planted = {sid: cid for sid, cid in sh.neardup_of.items() if sid in ids}
        hit = sum(1 for sid, cid in planted.items() if cid in top.get(sid, ()))
        return set(top) == ids and hit >= MIN_RECALL * len(planted)

    def check_shard(self, sh, qf, ex, nd, dc) -> None:
        """Planted properties against what each stage flagged."""
        dropped = {r.doc_id for r in qf.filter("NOT qf_keep").select("doc_id").collect()}
        kept = {k for k, _ in sh.docs} - dropped
        deduped = {r.doc_id for r in ex.select("doc_id").collect()}
        pairs = {(r.new_id, r.index_id) for r in nd.collect()}
        found = {n for n, _ in pairs}
        flagged = {r.doc_id for r in dc.filter("contaminated").select("doc_id").collect()}
        remaining = deduped - found
        true_pairs = sum(1 for n, c in pairs if sh.neardup_of.get(n) == c)
        hits = len(found & sh.must_find)
        r = self.recall
        r["neardup"][0] += hits
        r["neardup"][1] += len(sh.must_find)
        r["precision"][0] += true_pairs
        r["precision"][1] += len(pairs)
        planted = sh.contaminated & remaining
        r["decontam"][0] += len(flagged & planted)
        r["decontam"][1] += len(planted)
        problems = []
        if dropped != sh.low_quality:
            problems.append(f"quality dropped {len(dropped)} of {len(sh.low_quality)} planted")
        if kept - deduped != sh.exact_copies:
            problems.append("exact dedup removed other than the planted copies")
        if hits < MIN_RECALL * len(sh.must_find) or found & sh.must_miss:
            problems.append(f"near-dup found {hits}/{len(sh.must_find)} planted, "
                            f"{len(found & sh.must_miss)} below threshold")
        if true_pairs < MIN_RECALL * len(pairs):
            problems.append(f"near-dup precision {true_pairs}/{len(pairs)}")
        if flagged != planted:
            problems.append(f"decontamination flagged {len(flagged)}, planted {len(planted)}")
        if problems:
            self.fail(f"shard {sh.index}: " + "; ".join(problems))

    def check(self) -> None:
        """The index holds the corpus plus every appended survivor."""
        ok, n = self.attempt("index size", lambda: self.spark.read.parquet(
            f"{self.minhash_path}/sigs").count())
        if ok and n != self.indexed:
            self.fail(f"minhash index holds {n} signatures, expected {self.indexed}")

    def layer_metrics(self) -> dict:
        out = self.storage_metrics()
        r = self.recall
        out["operators.dedup.neardup_recall"] = r["neardup"][0] / max(1, r["neardup"][1])
        out["operators.dedup.neardup_precision"] = r["precision"][0] / max(1, r["precision"][1])
        out["operators.curation.decontam_recall"] = r["decontam"][0] / max(1, r["decontam"][1])
        out["storage.dv_files_total"] = dir_stats(self.storage_dirs())[1]
        return out


WORKLOADS = {w.name: w for w in (VaultIncremental, CurationCrawl)}
