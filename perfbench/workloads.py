"""The benchmark workloads: inputs, timed calls and output checks.

Each workload is a closed loop: one benchmark process makes one call at a
time into the library's public API and waits for it. An iteration is the
workload's main call followed by its refresh call (the same result brought
up to date after a seeded ~2% drop of new documents); the output checks
run after each call, outside the timed window. The warm-up call is made
only by the traced run.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

from pyspark.sql import DataFrame, SparkSession

from perfbench import gen


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def dir_files(path: str) -> int:
    return sum(
        1
        for _base, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    """Base class. Subclasses set ``name`` and implement the hooks."""

    name = ""

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # hooks -------------------------------------------------------------
    n_docs = 0

    def generate(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def warm_up(self, spark: SparkSession) -> None:
        """The traced run's first call: through the same layers as
        ``main``, checked; raises CheckFailed on a wrong output."""
        raise NotImplementedError

    def main(self, spark: SparkSession, i: int):
        raise NotImplementedError

    def refresh(self, spark: SparkSession, i: int, state):
        raise NotImplementedError

    def check_main(self, spark: SparkSession, state) -> float | None:
        """Raise CheckFailed on a wrong output. Returns the recall of the
        expected output, for the phase that defines it."""
        raise NotImplementedError

    def check_refresh(self, spark: SparkSession, state) -> float | None:
        raise NotImplementedError

    def stored_bytes(self, state) -> int:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# KG factory: gate, commit and refresh
# ---------------------------------------------------------------------------


class KgCommit(Workload):
    """build_triples -> materialize_outputs into a fresh root. The refresh
    rebuilds over base+drop and commits into the same root, where the sink
    fingerprints every table and rewrites only the partitions that changed.
    The traced run warms up with dry_run_report, the pre-commit gate, and
    also times it inside its traced main call."""

    name = "kg_commit"
    DOCS = 20_000
    BUCKETS = 16
    TABLES = ("nodes", "attribute_triples", "synapse_triples", "aggregate_triples")

    def __init__(self, work_dir: str, seed: int, n_docs: int | None = None, **circuit):
        super().__init__(work_dir, seed)
        self.size = n_docs or self.DOCS
        self.circuit = circuit
        self.corpus: gen.KgCorpus | None = None

    def generate(self, spark: SparkSession) -> None:
        self.corpus = gen.KgCorpus(self.seed, self.size, **self.circuit)
        self.n_docs = self.corpus.n_docs
        shutil.rmtree(self.path("inputs"), ignore_errors=True)
        self.corpus.write(self.path("inputs"))

    def build(self, spark: SparkSession, with_drop: bool) -> dict[str, DataFrame]:
        from sonata_neo4j_loader_spark.plans import pipeline

        docs = [self.path("inputs", "base")]
        if with_drop:
            docs.append(self.path("inputs", "drop"))
        return pipeline.build_triples(
            spark,
            spark.read.parquet(*docs),
            spark.read.parquet(self.path("inputs", "entities")),
            spark.read.parquet(self.path("inputs", "aliases")),
        )

    def warm_up(self, spark: SparkSession) -> None:
        """The pre-commit gate: ``dry_run_report`` over ``build_triples`` of
        the base documents. It runs every KG layer, so the commit after it
        pays no first-call cost outside the sink, and it costs half a
        commit."""
        from sonata_neo4j_loader_spark.plans import pipeline

        self.check_report(pipeline.dry_run_report(self.build(spark, with_drop=False)))

    def main(self, spark: SparkSession, i: int):
        from sonata_neo4j_loader_spark.plans import pipeline

        root = self.path(f"root{i}")
        shutil.rmtree(root, ignore_errors=True)
        out = self.build(spark, with_drop=False)
        commit = pipeline.materialize_outputs(out, root, num_buckets=self.BUCKETS)
        return {"root": root, "commit": commit}

    def refresh(self, spark: SparkSession, i: int, state):
        from sonata_neo4j_loader_spark.plans import pipeline

        out = self.build(spark, with_drop=True)
        return {**state, "refresh": pipeline.materialize_outputs(out, state["root"], num_buckets=self.BUCKETS)}

    # checks ------------------------------------------------------------
    def check_report(self, report: dict[str, int]) -> None:
        exp = self.corpus.expected_report(with_drop=False)
        expect(report == exp, f"gate reported {report}, expected {exp}")

    def check_main(self, spark: SparkSession, state) -> None:
        exp = self.corpus.expected_report(with_drop=False)
        if "report" in state:
            self.check_report(state["report"])
        for table in self.TABLES:
            rep = state["commit"][table]
            expect(rep.partitions_written, f"commit wrote no {table} partition")
            expect(rep.rows_written == exp[table], f"commit wrote {rep.rows_written} {table} rows, expected {exp[table]}")

    def committed_triples(self, spark: SparkSession, root: str) -> set[tuple]:
        from sonata_neo4j_loader_spark.sinks import materialize as mat

        got: set[tuple] = set()
        n = 0
        for table, cols in (
            ("attribute_triples", ["subj", "pred", "obj"]),
            ("synapse_triples", ["doc_id", "subj", "pred", "obj"]),
            ("aggregate_triples", ["subj", "pred", "obj"]),
        ):
            rows = mat.read_materialized(spark, f"{root}/{table}").select(*cols).collect()
            n += len(rows)
            got.update(tuple(r) for r in rows)
        expect(n == len(got), f"committed root holds {n - len(got)} duplicate triples")
        return got

    def verify_root(self, spark: SparkSession, root: str) -> None:
        """Every committed partition's row count matches its manifest."""
        from sonata_neo4j_loader_spark.sinks import materialize as mat

        for table in self.TABLES:
            bad = mat.verify_against_manifest(spark, f"{root}/{table}").count()
            expect(bad == 0, f"{table}: {bad} partitions disagree with the manifest")

    def check_refresh(self, spark: SparkSession, state) -> float:
        root = state["root"]
        self.verify_root(spark, root)
        for table in ("nodes", "attribute_triples"):
            rep = state["refresh"][table]
            expect(
                not rep.partitions_written,
                f"refresh rewrote {len(rep.partitions_written)} unchanged {table} partitions",
            )
        exp = self.corpus.expected_triples(with_drop=True)
        got = self.committed_triples(spark, root)
        expect(got <= exp, f"committed root holds {len(got - exp)} unexpected triples")
        return len(got & exp) / len(exp)

    def stored_bytes(self, state) -> int:
        return dir_bytes(state["root"])


# ---------------------------------------------------------------------------
# near-duplicate detection
# ---------------------------------------------------------------------------


class NearDup(Workload):
    """minhash_near_duplicates at threshold 0.6 over a corpus with planted
    near-copies; the pairs are written out as parquet. The refresh runs
    the same call over base+drop, where the drop adds ~2% new documents,
    some of them near-copies of base documents."""

    name = "neardup"
    DOCS = 2_500
    PLANTED = 125
    THRESHOLD = 0.6

    def __init__(self, work_dir: str, seed: int, n_docs: int | None = None):
        super().__init__(work_dir, seed)
        self.n_docs = n_docs or self.DOCS

    def generate(self, spark: SparkSession) -> None:
        n = self.n_docs
        n_drop = max(2, n // 50)
        rows, planted = gen.neardup_corpus(
            self.seed, n + n_drop, max(2, (self.PLANTED * n) // self.DOCS)
        )
        self.text = dict(rows)
        # the drop is the tail of the id range; planted pairs with an end in
        # it appear only once the drop is added
        self.planted_base = {p for p in planted if p[1] < n}
        self.planted_all = planted
        docs = [{"doc_id": i, "text": t} for i, t in rows]
        shutil.rmtree(self.path("inputs"), ignore_errors=True)
        gen.write_parquet(docs[:n], gen.TEXT_SCHEMA, self.path("inputs", "base"))
        gen.write_parquet(docs[n:], gen.TEXT_SCHEMA, self.path("inputs", "drop"), files=1)

    def pairs(self, spark: SparkSession, paths: list[str], out: str) -> str:
        from sonata_neo4j_loader_spark.operators import dedup

        pairs = dedup.minhash_near_duplicates(
            spark.read.parquet(*paths), "doc_id", "text", threshold=self.THRESHOLD
        )
        pairs.write.mode("overwrite").parquet(out)
        return out

    def warm_up(self, spark: SparkSession) -> None:
        """A main call and a refresh call: the operator's query planning
        and generated code take a few calls to reach their steady speed."""
        state = self.main(spark, "-warmup")
        self.check_main(spark, state)
        self.check_refresh(spark, self.refresh(spark, "-warmup", state))

    def main(self, spark: SparkSession, i):
        return {"out": self.pairs(spark, [self.path("inputs", "base")], self.path(f"pairs{i}"))}

    def refresh(self, spark: SparkSession, i, state):
        paths = [self.path("inputs", "base"), self.path("inputs", "drop")]
        out = self.pairs(spark, paths, self.path(f"pairs{i}r"))
        return {**state, "refresh_out": out}

    def _check_pairs(self, spark: SparkSession, out: str, planted: set) -> float:
        found = set()
        for r in spark.read.parquet(out).collect():
            a, b = sorted((r["id_a"], r["id_b"]))
            exact = gen.jaccard(self.text[a], self.text[b])
            expect(exact >= self.THRESHOLD, f"pair ({a},{b}) has Jaccard {exact:.4f}")
            expect(abs(exact - r["jaccard"]) < 1e-6, f"pair ({a},{b}) reported {r['jaccard']}, exact {exact}")
            found.add((a, b))
        expect(len(found) > 0, "no pairs returned")
        return len(found & planted) / len(planted)

    def check_main(self, spark: SparkSession, state) -> float:
        return self._check_pairs(spark, state["out"], self.planted_base)

    def check_refresh(self, spark: SparkSession, state) -> None:
        self._check_pairs(spark, state["refresh_out"], self.planted_all)
        return None

    def stored_bytes(self, state) -> int:
        return dir_bytes(state["out"])


WORKLOADS = {w.name: w for w in (KgCommit, NearDup)}


def run_untraced(wl: Workload, spark: SparkSession, seconds: float, rss, probe) -> dict:
    """The measured loop: iterations until ``seconds`` have passed (at
    least one), starting in a fresh session, so the first main call pays
    the JVM's first-call cost, as every ``spark-submit`` does. Returns per
    call its check outcome and its wall, scaled by ``probe`` to seconds on
    the reference machine. A call that raises or fails its check counts as
    failed, its wall is not kept, and the run ends."""
    res = {"main": [], "refresh": [], "recall": [], "stored": []}
    res.update(attempted=0, failed=0)
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        for phase in ("main", "refresh"):
            res["attempted"] += 1
            spark.catalog.clearCache()
            try:
                with rss:
                    t0 = time.monotonic()
                    if phase == "main":
                        state = wl.main(spark, i)
                    else:
                        state = wl.refresh(spark, i, state)
                    t1 = time.monotonic()
                if phase == "main":
                    recall = wl.check_main(spark, state)
                    res["stored"].append(wl.stored_bytes(state))
                else:
                    recall = wl.check_refresh(spark, state)
            except Exception:
                res["failed"] += 1
                _log(f"{wl.name} iteration {i} {phase} failed:\n{traceback.format_exc()}")
                return res
            if recall is not None:
                res["recall"].append(recall)
            res[phase].append(probe.scale(t1 - t0, t0, t1))
            _log(f"{wl.name} iteration {i} {phase}: {t1 - t0:.2f} s, scaled {res[phase][-1]:.2f} s")
        i += 1
        if time.perf_counter() >= deadline:
            return res
