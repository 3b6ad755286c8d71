"""The benchmark workloads: input staging, the timed operation, the output
fingerprint, the independent reference check and the traced-run counters.

A workload runs the program's own entry points on staged inputs and never
patches them. ``op`` is the timed region; everything else runs outside it.
Each call ``op`` makes into the program is wrapped in a ``step`` span naming
the layer it calls into, or no layer when the call runs several.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import inspect
import io
import os
import random
import sys
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

from kgbench import inputs

QUAD_COLS = ["dataset", "subject", "predicate", "value", "datatype", "language"]


def load_repo_module(root: str, rel: str, name: str):
    """Import a repo script that is not a package module (``jobs/extract.py``,
    ``tools/check_oracles.py``) by path."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(df: DataFrame) -> dict:
    """Row count plus an order-independent hash over all columns."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("hash"),
    ).first()
    return {"rows": int(row["rows"]), "hash": str(row["hash"])}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def oracle_pr(spark: SparkSession, root: str, sf_dir: str, names: list[str]) -> tuple[float, float, dict]:
    """Run each ``kg_*`` query and its DuckDB ``oracle_sql()`` twin over the
    staged tables, normalised as ``tools/check_oracles.py`` does; rows are
    matched as multisets, so P/R = 1.0 iff every query matches exactly."""
    import duckdb

    import __spark_entry__ as E

    norm = load_repo_module(root, "tools/check_oracles.py", "kgbench_check_oracles").norm
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
    qs, oracles = E.queries(), E.oracle_sql()
    matched = produced = expected = 0
    per_query = {}
    for name in names:
        a = norm(qs[name](spark, sf_dir).toPandas())
        b = norm(con.execute(oracles[name]).df())
        ok_cols = list(a.columns) == list(b.columns)
        ca = Counter(map(tuple, a.astype(str).values.tolist()))
        cb = Counter(map(tuple, b.astype(str).values.tolist()))
        m = sum((ca & cb).values()) if ok_cols else 0
        matched, produced, expected = matched + m, produced + len(a), expected + len(b)
        per_query[name] = {"rows": len(a), "oracle_rows": len(b), "matched": m}
    con.close()
    return (matched / produced if produced else 0.0,
            matched / expected if expected else 0.0, per_query)


def build_queries(*markers: str) -> list[str]:
    """The oracled ``kg_*`` queries whose body calls one of ``markers`` (the
    build's accessors); queries that populate a cache of their own are left
    out."""
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    out = []
    for name, fn in E.queries().items():
        src = inspect.getsource(fn)
        if name in oracles and any(m in src for m in markers) and "_QUADS_CACHE[" not in src:
            out.append(name)
    return out


class Workload:
    name = ""
    # the layers a traced operation must show busy time for
    layers: tuple[str, ...] = ()
    # whether set-up includes one untimed operation before the timed ones
    warm_up = True
    # whether every operation produces the same output (else operation k's
    # output is compared with operation k's of earlier runs)
    repeat = True
    # the reference check passes when precision and recall reach this
    min_pr = 1.0

    def __init__(self, root: str, seed: int, scale: float = 1.0):
        self.root, self.seed = root, seed

    def stage(self, spark: SparkSession, in_dir: str) -> None:
        raise NotImplementedError

    def next_input(self, spark: SparkSession, op_dir: str) -> None:
        """Untimed preparation of the next operation's input."""

    def op(self, spark: SparkSession, op_dir: str, step) -> DataFrame:
        """The timed operation; returns the materialized output."""
        raise NotImplementedError

    def check(self, spark: SparkSession, out: DataFrame, op_dir: str) -> bool:
        """Untimed per-operation check beyond the fingerprint."""
        return True

    def reference(self, spark: SparkSession, out: DataFrame, op_dir: str) -> tuple[float, float, dict]:
        """Precision, recall and detail of the last output against an
        independent reference, and whether it must match exactly."""
        raise NotImplementedError

    def counters(self, spark: SparkSession, out: DataFrame, op_dir: str) -> dict:
        """Layer counters read from the outputs, after the traced operation."""
        raise NotImplementedError


# golden quads the engine does not produce: dbo:twinCountry of French pages,
# the {{flagicon|GER}} -> Germany object path; 33 of them at 1,000 pages for
# every seed, since the seed only orders the corpus
KNOWN_GAP = {("http://dbpedia.org/ontology/twinCountry", "fr")}


class ExtractJob(Workload):
    """``jobs/extract.py`` ``main()`` in-process: resumable parquet stages,
    lineage rows and the N-Triples export over a staged synthetic corpus,
    measured cold."""

    name = "extract_job"
    layers = ("parse", "redirects", "extractors", "mapping_engine", "linker", "pipeline", "emit")
    # a batch job: every spark-submit of it starts cold, so its timed run is
    # the session's first (Python worker start-up and code generation
    # included); a warm-up run would also double this workload's run time
    warm_up = False
    # recall may fall short of 1.0 by the known gap alone
    min_pr = 0.999

    def __init__(self, root, seed, scale=1.0):
        super().__init__(root, seed, scale)
        self.pages = max(100, int(1000 * scale))

    def stage(self, spark, in_dir):
        self.corpus = os.path.join(in_dir, "corpus")
        inputs.stage_corpus(self.corpus, self.pages, self.seed,
                            files=spark.sparkContext.defaultParallelism)
        self.job = load_repo_module(self.root, "jobs/extract.py", "kgbench_extract_job")

    def op(self, spark, op_dir, step):
        argv = sys.argv
        sys.argv = ["extract.py", "--input", self.corpus,
                    "--workdir", os.path.join(op_dir, "stages"),
                    "--ntriples", os.path.join(op_dir, "ntriples")]
        try:
            # the job prints its own summary line; keep stdout for the result
            with step("jobs/extract.py main()", None), contextlib.redirect_stdout(io.StringIO()):
                self.job.main()
        finally:
            sys.argv = argv
        return spark.read.parquet(os.path.join(op_dir, "stages", "graph"))

    def reference(self, spark, out, op_dir):
        """Golden P/R (``compare.quad_pr``). The run passes only if the graph
        equals the golden set exactly, apart from golden quads of the known
        gap, which may be missing; so one quad lost anywhere else fails it."""
        from kgforge import corpus as C
        from kgforge.compare import _keyed, quad_pr
        from kgforge.schema import QUAD_KEY

        golden = C.golden_df(spark, self.pages)
        pr = quad_pr(out, golden)
        e, g = _keyed(out), _keyed(golden)
        missed = {(r["predicate"], r["language"]): r["count"] for r in
                  g.join(e, QUAD_KEY, "left_anti").groupBy("predicate", "language").count().collect()}
        extra = e.join(g, QUAD_KEY, "left_anti").count()
        detail = {"engine": pr.engine, "golden": pr.golden, "matched": pr.matched, "extra": extra,
                  "missed": {f"{p} @{la}": n for (p, la), n in sorted(missed.items())}}
        exact = extra == 0 and set(missed) <= KNOWN_GAP
        return (pr.precision if exact else 0.0), (pr.recall if exact else 0.0), detail

    def counters(self, spark, out, op_dir):
        from kgforge.linker import _candidate_mentions

        st = os.path.join(op_dir, "stages")
        parsed = spark.read.parquet(os.path.join(st, "parsed"))
        quads = spark.read.parquet(os.path.join(st, "quads"))
        emitted = quads.count()
        parts = ["quads", "transitive_redirects", "type_consistency", "entity_links"]
        return {
            "parse.errors": parsed.agg(F.sum("parse_errors")).first()[0] or 0,
            "parse.rows_out": parsed.count(),
            "extractors.rows_out": emitted,
            "extractors.distinct_ratio": quads.select(*QUAD_COLS).distinct().count() / max(emitted, 1),
            "redirects.edges": quads.filter(F.col("dataset") == "redirects").count(),
            "redirects.rows_out": spark.read.parquet(os.path.join(st, "transitive_redirects")).count(),
            "mapping_engine.rows_out": spark.read.parquet(os.path.join(st, "type_consistency")).count(),
            "linker.mentions": _candidate_mentions(parsed).count(),
            "linker.links": spark.read.parquet(os.path.join(st, "entity_links")).count(),
            "pipeline.dedup_rows_in": sum(spark.read.parquet(os.path.join(st, p)).count() for p in parts),
            "pipeline.dedup_rows_out": out.count(),
            "pipeline.rows_out": out.count(),
            "pipeline.bytes_written": dir_bytes(st),
            "emit.bytes": dir_bytes(os.path.join(op_dir, "ntriples")),
            "emit.rows_out": spark.read.text(os.path.join(op_dir, "ntriples")).count(),
        }


class EngineBuild(Workload):
    """``__spark_entry__._engine_quads`` over a staged ``documents`` table:
    the in-memory (``localCheckpoint``) graph the driver contract reads."""

    name = "engine_build"
    layers = ("parse", "redirects", "extractors", "mapping_engine", "nif", "linker", "pipeline")

    def __init__(self, root, seed, scale=1.0):
        super().__init__(root, seed, scale)
        self.pages = max(60, int(600 * scale))

    def stage(self, spark, in_dir):
        self.sf_dir = os.path.join(in_dir, "sf")
        inputs.stage_documents(self.sf_dir, self.pages, self.seed)

    def op(self, spark, op_dir, step):
        import __spark_entry__ as E

        with step("_engine_quads", None):
            return E._engine_quads(spark, self.sf_dir)

    def reference(self, spark, out, op_dir):
        return oracle_pr(spark, self.root, self.sf_dir, build_queries("_ds(", "_engine_quads("))

    def counters(self, spark, out, op_dir):
        import __spark_entry__ as E
        from kgforge.linker import _candidate_mentions

        parsed = E._QUADS_CACHE[self.sf_dir + "::parsed"]
        by_ds = dict(out.groupBy("dataset").count().collect())
        return {
            "parse.errors": parsed.agg(F.sum("parse_errors")).first()[0] or 0,
            "parse.rows_out": parsed.count(),
            "redirects.edges": by_ds.get("redirects", 0),
            "redirects.rows_out": by_ds.get("transitive_redirects", 0),
            "nif.rows_out": sum(v for k, v in by_ds.items() if k.startswith("nif")),
            "linker.mentions": _candidate_mentions(parsed).count(),
            "linker.links": by_ds.get("entity_links", 0),
            "pipeline.dedup_rows_out": out.count(),
            "pipeline.rows_out": out.count(),
        }


class WikidataBuild(Workload):
    """``__spark_entry__._wd_quads`` over staged ``customer``, ``supplier``
    and ``nation`` tables: the entity, property and lexeme JSON corpora the
    driver contract derives from them, parsed by ``from_json`` in the JVM and
    extracted by seven concurrently checkpointed branches."""

    name = "wikidata_build"
    layers = ("wikidata",)

    def __init__(self, root, seed, scale=1.0):
        super().__init__(root, seed, scale)
        self.customers = max(300, int(3000 * scale))
        self.suppliers = max(20, int(200 * scale))
        self.pages = self.customers + self.suppliers

    def stage(self, spark, in_dir):
        self.sf_dir = os.path.join(in_dir, "sf")
        inputs.stage_entities(self.sf_dir, self.customers, self.suppliers, self.seed)

    def op(self, spark, op_dir, step):
        import __spark_entry__ as E

        with step("_wd_quads", "wikidata"):
            return E._wd_quads(spark, self.sf_dir)

    def reference(self, spark, out, op_dir):
        return oracle_pr(spark, self.root, self.sf_dir, build_queries("_wd_quads("))

    def counters(self, spark, out, op_dir):
        return {"wikidata.rows_out": out.count()}


def page_id(row: dict) -> int:
    """The page id ``kgforge.parse.prepare`` derives: the first 15 hex digits
    of sha256("lang|repo|path")."""
    key = f"{row['lang']}|{row['repo']}|{row['path']}"
    return int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)


class LiveUpdate(Workload):
    """A closed loop with one client over ``kgforge.live``: each operation
    sends one batch of seeded changed pages (edits, new pages, deletions)
    through the steps of ``start_live_stream``'s batch body, and the next
    batch goes out only after the previous store snapshot is committed."""

    name = "live_update"
    layers = ("parse", "extractors", "live")
    repeat = False

    def __init__(self, root, seed, scale=1.0):
        super().__init__(root, seed, scale)
        self.store_pages = max(200, int(2000 * scale))
        self.pages = max(10, int(40 * scale))  # changed pages per batch

    def stage(self, spark, in_dir):
        from kgforge.live import page_store
        from kgforge.parse import prepare

        self.in_dir = in_dir
        self.store_dir = os.path.join(in_dir, "store")
        path = os.path.join(in_dir, "corpus")
        rows = inputs.stage_corpus(path, self.store_pages, self.seed,
                                   files=spark.sparkContext.defaultParallelism)
        self.corpus = {(r["lang"], r["repo"], r["path"]): r for r in rows}
        self.batches = 0
        # the initial snapshot, as the first streaming batch would write it
        page_store(prepare(spark.read.parquet(path))).write.parquet(self._version(0))

    def _version(self, k: int) -> str:
        return os.path.join(self.store_dir, f"v={k}")

    def next_input(self, spark, op_dir):
        """Batch k: a seeded choice of pages to edit (a new link and a new
        revision), pages to add (a copy of a page under a new title) and
        pages to delete, applied to the benchmark's copy of the corpus."""
        self.batches += 1
        k = self.batches
        rng = random.Random(f"live:{self.seed}:{k}")
        keys = sorted(self.corpus)
        n_new = n_del = self.pages // 5
        picked = rng.sample(keys, self.pages - n_new)
        edit, delete = picked[: self.pages - n_new - n_del], picked[self.pages - n_new - n_del:]
        rows = []
        for key in edit:
            r = dict(self.corpus[key])
            r["content"] += f"\n[[Live Update Target {k}]]"
            r["commit"] += f"-r{k}"
            rows.append(r)
        for j in range(n_new):
            r = dict(self.corpus[rng.choice(keys)])
            r["path"] = r["path"].replace(".wiki", f"_live_{k}_{j}.wiki")
            rows.append(r)
        deleted = sorted(page_id(self.corpus[key]) for key in delete)
        for key in delete:
            del self.corpus[key]
        for r in rows:
            self.corpus[(r["lang"], r["repo"], r["path"])] = r
        rng.shuffle(rows)
        path = os.path.join(op_dir, "batch")
        inputs.write_corpus(rows, path)
        # the batch as the stream source hands it to the batch body
        self.batch = spark.read.parquet(path)
        self.deleted = spark.createDataFrame([(i,) for i in deleted], "page_id long")
        self.old = spark.read.parquet(self._version(k - 1))

    def op(self, spark, op_dir, step):
        from kgforge.live import apply_batch, deletion_diff, live_diff, page_store, write_diff
        from kgforge.parse import prepare

        k = self.batches
        # the re-extracted batch and the diff are each materialized once, at
        # the end of their own step, so every step's time is its own work
        with step("live.extract", None):
            self.bstore = page_store(prepare(self.batch)).persist()
            self.bstore.count()
        with step("live.diff", "live"):
            self.diff = live_diff(self.old, self.bstore).unionByName(
                deletion_diff(self.old, self.deleted)).persist()
            self.diff.count()
        with step("live.publish", "live"):
            write_diff(self.diff, os.path.join(op_dir, "publish"))
        with step("live.apply", "live"):
            apply_batch(self.old, self.bstore, self.deleted).write.parquet(self._version(k))
        return _diff_rows(self.diff)

    def check(self, spark, out, op_dir):
        """The batch's published added and removed sets are the set
        differences of the changed pages' new and old quads (as sets: a
        deleted page publishes its cached quads as stored, repeats
        included)."""
        ids = self.bstore.select("page_id").unionByName(self.deleted)
        old = _flat(self.old.join(ids, "page_id", "left_semi"), "quads")
        new = _flat(self.bstore, "quads")
        return all(
            fingerprint(out.filter(F.col("op") == op).select(*want.columns).distinct())
            == fingerprint(want)
            for op, want in (("added", new.subtract(old)), ("removed", old.subtract(new)))
        )

    def reference(self, spark, out, op_dir):
        """The final incremental store against ``page_store`` rebuilt from
        scratch over the final corpus, as multisets of (page, quad)."""
        from kgforge.live import page_store
        from kgforge.parse import prepare

        path = os.path.join(self.in_dir, "final")
        inputs.write_corpus(list(self.corpus.values()), path)
        got = _flat(spark.read.parquet(self._version(self.batches)), "quads")
        want = _flat(page_store(prepare(spark.read.parquet(path))), "quads")
        n_got, n_want = got.count(), want.count()
        matched = n_got - got.exceptAll(want).count()
        return (matched / n_got if n_got else 0.0, matched / n_want if n_want else 0.0,
                {"store": n_got, "rebuilt": n_want, "matched": matched})

    def counters(self, spark, out, op_dir):
        by_op = dict(out.groupBy("op").count().collect())
        return {
            "live.store_bytes_rewritten": dir_bytes(self._version(self.batches)),
            "live.added": by_op.get("added", 0),
            "live.removed": by_op.get("removed", 0),
            "live.rows_out": out.count(),
            "parse.rows_out": self.bstore.count(),
        }


def _flat(df: DataFrame, col: str) -> DataFrame:
    """(page_id, language, quad fields) rows of an array-of-quads column."""
    return df.select("page_id", "language", F.explode(col).alias("q")).select(
        "page_id", "language", "q.*")


def _diff_rows(diff: DataFrame) -> DataFrame:
    """A diff as (op, page_id, language, quad fields) rows."""
    return _flat(diff, "to_add").withColumn("op", F.lit("added")).unionByName(
        _flat(diff, "to_delete").withColumn("op", F.lit("removed")))


WORKLOADS = {w.name: w for w in (ExtractJob, EngineBuild, WikidataBuild, LiveUpdate)}
