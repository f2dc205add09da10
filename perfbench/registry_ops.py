"""Registry workloads: one op is one pass over a fixed list of registry
queries, each built with ``QUERIES[name].fn`` and executed to a ``noop``
sink.

The output check collects every query's result outside the timed region
and compares it with the query's DuckDB oracle over the same generated
parquet files (columns sorted by name, rows compared as an unordered
multiset of native values). A query without an oracle is checked for
determinism instead: every pass must return the same non-empty multiset as
the run's first pass.
"""

from __future__ import annotations

import decimal
import math
import os
import time

import fixtures

# (query, the layer its action's work belongs to). Build time always
# belongs to `plans`, or to `streaming` for a query whose stream runs inside
# its builder.
LLM_DATA_OPS = (
    ("llmops_dedup_exact", "operators.semantic"),
    ("llmops_minhash_dedup", "operators.semantic"),
    ("llmops_simhash_neardup", "operators.semantic"),
    ("llmops_embedding_neardup", "operators.semantic"),
    ("llmops_ann_bruteforce", "operators.semantic"),
    ("llmops_ann_lsh", "operators.semantic"),
    ("llmops_decontaminate", "operators.semantic"),
    ("llmops_text_metrics", "operators.textops"),
    ("llmops_multimodal_frames", "operators.multimodal"),
    ("llmops_dedup_cascade_e2e", "operators.semantic"),
    ("llmops_sequence_pack", "operators.textops"),
)
PLAN_HEAVY = (
    ("stream_tumbling_counts", "streaming"),
    ("eval_bradley_terry_ratings", "plans"),
    ("llmops_dedup_cc", "operators.graph"),
    ("llmops_corpus_build_e2e", "plans"),
    ("llmops_bpe_train_merges", "plans"),
)
# One pass that touches every registry layer at a cost a short run can
# repeat: an exec-bound query per operator module, a streaming query, and a
# builder that launches a job inside fn().
REGISTRY_MIX = (
    ("llmops_dedup_exact", "operators.semantic"),
    ("llmops_ann_bruteforce", "operators.semantic"),
    ("llmops_sequence_pack", "operators.textops"),
    ("llmops_multimodal_frames", "operators.multimodal"),
    ("pipeline_dedup_first_wins", "operators.dedup"),
    ("stream_tumbling_counts", "streaming"),
)
STREAMING = {"stream_tumbling_counts"}

SIZES = dict(n_docs=1500, n_vecs=600, n_events=6000)
SPECS = {"llm_data_ops": LLM_DATA_OPS, "plan_heavy": PLAN_HEAVY, "registry_mix": REGISTRY_MIX}
TABLES = ("documents", "embeddings", "events")


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _rows(columns: list[str], records) -> list[tuple]:
    """Rows as tuples over the columns in name order, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in records), key=repr)


class RegistryWorkload:
    def __init__(self, name: str, seed: int, work: str):
        self.name = name
        self.queries = SPECS[name]
        self.data_dir = os.path.join(work, "fixtures")
        fixtures.write(seed, self.data_dir, **SIZES)
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        self.planted = False  # over-expect one row (self-check only)

    def plant_wrong_expectation(self) -> None:
        self.planted = True

    def prepare(self, spark) -> None:
        from batch_public_spark.plans import QUERIES

        self.spark = spark
        self.specs = {q: QUERIES[q] for q, _ in self.queries}

    def op(self, *, hooks: dict | None = None) -> tuple[float, dict]:
        """One timed pass; ``hooks['around']`` wraps each build and action
        (the traced run labels and times them there)."""
        around = (hooks or {}).get("around")
        frames = {}
        t0 = time.perf_counter()
        for name, owner in self.queries:
            fn = self.specs[name].fn
            if around is None:
                df = fn(self.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                build = "streaming" if name in STREAMING else "plans"
                df = around(name, "build", build, lambda: fn(self.spark, self.data_dir))
                around(name, "exec", owner, lambda: df.write.format("noop").mode("overwrite").save())
            frames[name] = df
        return time.perf_counter() - t0, {"frames": frames}

    def _oracle(self, name: str):
        if name not in self.expected:
            sql = self.specs[name].oracle
            if sql is None:
                return None
            import duckdb

            con = duckdb.connect()
            try:
                for t in TABLES:
                    path = os.path.join(self.data_dir, f"{t}.parquet")
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
                rel = con.sql(sql)
                self.expected[name] = (list(rel.columns), _rows(list(rel.columns), rel.fetchall()))
            finally:
                con.close()
        return self.expected[name]

    def check(self, out: dict) -> list[str]:
        errors = []
        for name, df in out["frames"].items():
            cols = list(df.columns)
            got = (sorted(cols), _rows(cols, df.collect()))
            want = self._oracle(name)
            if want is None:  # no oracle: the run's first pass is the reference
                want = self.expected.setdefault(name, got)
                if not got[1]:
                    errors.append(f"{name}: empty result")
            else:
                want = (sorted(want[0]), want[1])
            if self.planted:
                want = (want[0], want[1] + [want[1][0] if want[1] else ()])
            if got[0] != want[0]:
                errors.append(f"{name}: columns {got[0]} != {want[0]}")
            elif got[1] != want[1]:
                errors.append(f"{name}: {len(got[1])} rows differ from the {len(want[1])} expected")
        return errors

    def cleanup(self, out: dict) -> None:
        out["frames"].clear()
