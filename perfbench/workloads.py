"""The workloads.  Each runs the program through its public API only, on
inputs from ``gen.py``, and checks its output against ``oracle.py``.

A workload object is built once per process.  ``prepare`` generates the
inputs and the expected results; ``run`` is one timed repetition, with
the ``NullTracer`` or (in the separate traced repetitions) a ``Tracer``;
``check`` returns the mismatches of the last repetition's output; and
``release`` frees what ``check`` needed.  ``check`` and ``release`` run
outside the timed region.

The functions given to ``apply`` are closures built in ``prepare``, so
Spark's Python workers receive them by value and never import this
package.
"""

from __future__ import annotations

import contextlib
from pathlib import Path

import pyarrow.parquet as pq

from etielle_spark import (
    AddPolicy,
    Field,
    FirstNonNullPolicy,
    MaxPolicy,
    PipelineBuilder,
    PreSegmentedChunkSource,
    UpsertFlushStrategy,
    apply,
    etl,
    get,
    get_from_parent,
    index,
    release_operator_caches,
    stream,
)
from etielle_spark.operators import lsh_candidate_pairs, minhash_signatures
from etielle_spark.operators.clusters import canonicalize_clusters
from etielle_spark.sources import JdbcSink, ParquetSink

from . import gen
from .oracle import TableSpec, check_digests, merge_rows, py_digest, spark_digest, union_find_clusters
from .trace import ProxySink, patched

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _sink(raw, tr):
    return ProxySink(raw, tr) if tr.enabled else raw


def _counted(acc, fn):
    """``fn`` for an ``apply`` field, counting its calls in ``acc``."""

    def counted(v):
        acc.add(1)
        return fn(v)

    return counted


def _write_parquet_parts(table, path: Path, parts: int = 8) -> None:
    path.mkdir(parents=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


class Workload:
    name = ""
    #: default size (the generator's scale argument)
    default_size = 0

    def __init__(self, spark, work: Path, seed: int, size: int | None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size or self.default_size
        #: rows the program delivers per repetition (rows_per_s numerator)
        self.rows = 0
        #: per-layer values the workload itself knows (exact counts)
        self.layer: dict[str, float] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def run(self, tr) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def release(self) -> None:
        """Free what one repetition kept for its check (untimed)."""


class JsonToDb(Workload):
    """users -> posts -> tags from one in-memory JSON document into
    embedded Derby through ``JdbcSink``."""

    name = "json_to_db"
    default_size = 2000

    SPECS = {
        "users": TableSpec(("id",), ("name",), ("score", "name_len")),
        "posts": TableSpec(("id",), ("user_id",), ("likes",)),
        "post_tags": TableSpec(("post_id", "tag"), (), ("weight",)),
    }

    def prepare(self) -> None:
        self.doc = gen.users_posts_tags(self.seed, self.size)
        docs = self.doc["users"]
        users = merge_rows(
            ({"id": u["id"], "name": u["name"], "score": u["score"], "name_len": len(u["name"])} for u in docs),
            key=lambda r: r["id"],
            policies={"score": "max"},
            lww=("name", "name_len"),
        )
        posts = merge_rows(
            ({"id": p["id"], "user_id": u["id"], "likes": p["likes"]} for u in docs for p in u["posts"]),
            key=lambda r: r["id"],
            policies={},
            lww=("user_id", "likes"),
        )
        tags = merge_rows(
            (
                {"post_id": p["id"], "tag": t["tag"], "weight": t["weight"]}
                for u in docs
                for p in u["posts"]
                for t in p["tags"]
            ),
            key=lambda r: (r["post_id"], r["tag"]),
            policies={},
            lww=("weight",),
        )
        tables = {"users": users, "posts": posts, "post_tags": tags}
        self.want = {t: py_digest(rows, self.SPECS[t]) for t, rows in tables.items()}
        self.rows = sum(len(r) for r in tables.values())
        self.mapped_users = len(docs)
        self.url = f"jdbc:derby:{self.work / 'derby'};create=true"
        self.calls = self.spark.sparkContext.accumulator(0)
        self.name_len = _counted(self.calls, lambda v: None if v is None else len(v))

    def run(self, tr) -> None:
        calls0 = self.calls.value
        with tr.span("fluent.build"):
            p = (
                etl(self.doc, spark=self.spark)
                .goto("users")
                .each()
                .map_to(
                    "users",
                    fields=[
                        Field("id", get("id")),
                        Field("name", get("name")),
                        Field("score", get("score"), merge=MaxPolicy()),
                        Field("name_len", apply(self.name_len, get("name"), return_type="int")),
                    ],
                    join_on=["id"],
                )
                .goto("posts")
                .each()
                .map_to(
                    "posts",
                    fields=[
                        Field("id", get("id")),
                        Field("user_id", get_from_parent("id")),
                        Field("likes", get("likes")),
                    ],
                    join_on=["id"],
                )
                .link_to("users", by={"user_id": "id"})
                .goto("tags")
                .each()
                .map_to(
                    "post_tags",
                    fields=[
                        Field("post_id", get_from_parent("id")),
                        Field("tag", get("tag")),
                        Field("weight", get("weight")),
                    ],
                    join_on=["post_id", "tag"],
                )
                .link_to("posts", by={"post_id": "id"})
                .load(_sink(JdbcSink(self.url, mode="overwrite", driver=DERBY), tr))
            )
        with tr.span("fluent.run"):
            p.run()
        self.layer["transforms.apply_calls_per_row"] = (self.calls.value - calls0) / self.mapped_users

    def check(self) -> list[str]:
        reader = self.spark.read.format("jdbc").option("url", self.url).option("driver", DERBY)
        got = {
            t: spark_digest(reader.option("dbtable", t).load(), spec)
            for t, spec in self.SPECS.items()
        }
        return check_digests(got, self.want)


class NestedMergeParquet(Workload):
    """Nested order documents read from parquet, keyed merges with three
    policies, ``each()`` over the lines, ``link_to``, ``ParquetSink``."""

    name = "nested_merge_parquet"
    default_size = 150_000

    SPECS = {
        "orders": TableSpec(("order_id",), ("customer",), ("amount_cents", "priority")),
        "order_lines": TableSpec(("order_id", "line_no"), ("sku",), ("qty", "price_cents")),
    }

    def prepare(self) -> None:
        table = gen.nested_orders(self.seed, self.size)
        self.input = self.work / "orders_in"
        _write_parquet_parts(table, self.input)
        oid = table["order_id"].to_pylist()
        cust = table["customer"].to_pylist()
        amount = table["amount_cents"].to_pylist()
        prio = table["priority"].to_pylist()
        lines = table["lines"].combine_chunks()
        off = lines.offsets.to_pylist()
        sku = lines.values.field("sku").to_pylist()
        qty = lines.values.field("qty").to_pylist()
        price = lines.values.field("price_cents").to_pylist()
        # generated rows are already in arrival (seq) order
        orders = merge_rows(
            (
                {"order_id": oid[i], "customer": cust[i], "amount_cents": amount[i], "priority": prio[i]}
                for i in range(len(oid))
            ),
            key=lambda r: r["order_id"],
            policies={"customer": "first_non_null", "amount_cents": "add", "priority": "max"},
        )
        order_lines = merge_rows(
            (
                {"order_id": oid[i], "line_no": j - off[i], "sku": sku[j], "qty": qty[j], "price_cents": price[j]}
                for i in range(len(oid))
                for j in range(off[i], off[i + 1])
            ),
            key=lambda r: (r["order_id"], r["line_no"]),
            policies={"qty": "add"},
            lww=("sku", "price_cents"),
        )
        tables = {"orders": orders, "order_lines": order_lines}
        self.want = {t: py_digest(rows, self.SPECS[t]) for t, rows in tables.items()}
        self.rows = sum(len(r) for r in tables.values())
        self.out = self.work / "orders_out"

    def run(self, tr) -> None:
        with tr.span("fluent.build"):
            p = (
                etl(self.spark.read.parquet(str(self.input)), spark=self.spark, order_col="seq")
                .map_to(
                    "orders",
                    fields=[
                        Field("order_id", get("order_id")),
                        Field("customer", get("customer"), merge=FirstNonNullPolicy()),
                        Field("amount_cents", get("amount_cents"), merge=AddPolicy()),
                        Field("priority", get("priority"), merge=MaxPolicy()),
                    ],
                    join_on=["order_id"],
                )
                .goto("lines")
                .each()
                .map_to(
                    "order_lines",
                    fields=[
                        Field("order_id", get_from_parent("order_id")),
                        Field("line_no", index()),
                        Field("sku", get("sku")),
                        Field("qty", get("qty"), merge=AddPolicy()),
                        Field("price_cents", get("price_cents")),
                    ],
                    join_on=["order_id", "line_no"],
                )
                .link_to("orders", by={"order_id": "order_id"})
                .load(_sink(ParquetSink(str(self.out)), tr))
            )
        with tr.span("fluent.run"):
            p.run()

    def check(self) -> list[str]:
        got = {
            t: spark_digest(self.spark.read.parquet(str(self.out / t)), spec)
            for t, spec in self.SPECS.items()
        }
        return check_digests(got, self.want)


class ChunkedStream(Workload):
    """``stream()`` over pre-segmented dict chunks with upserts on keys
    that recur across chunks, one ``apply`` field, final tables into
    ``ParquetSink``."""

    name = "chunked_stream"
    default_size = 150  # users per chunk
    n_chunks = 3

    SPECS = {
        "users": TableSpec(("id",), ("score_band",), ("score",)),
        "posts": TableSpec(("id",), ("user_id",), ("likes",)),
    }

    def prepare(self) -> None:
        self.chunks = gen.user_chunks(self.seed, self.n_chunks, self.size)
        users: dict = {}
        posts: dict = {}
        band = lambda score: None if score is None else f"b{score // 100}"  # noqa: E731
        for (root,) in self.chunks:
            for u in root["users"]:
                users[u["id"]] = {"id": u["id"], "score": u["score"], "score_band": band(u["score"])}
                for p in u["posts"]:
                    posts[p["id"]] = {"id": p["id"], "user_id": u["id"], "likes": p["likes"]}
        tables = {"users": list(users.values()), "posts": list(posts.values())}
        self.want = {t: py_digest(rows, self.SPECS[t]) for t, rows in tables.items()}
        self.rows = sum(len(r) for r in tables.values())
        self.mapped_users = self.n_chunks * self.size
        self.out = self.work / "stream_out"
        self.calls = self.spark.sparkContext.accumulator(0)
        self.score_band = _counted(self.calls, band)

    def _source(self, tr):
        for c in self.chunks:
            tr.enter("streaming.chunk")
            yield c
            tr.exit()

    def run(self, tr) -> None:
        calls0 = self.calls.value
        with tr.span("fluent.build"):
            p = (
                stream(
                    PreSegmentedChunkSource(self._source(tr)),
                    spark=self.spark,
                    flush_strategy=UpsertFlushStrategy("update"),
                )
                .goto("users")
                .each()
                .map_to(
                    "users",
                    fields=[
                        Field("id", get("id")),
                        Field("score", get("score")),
                        Field("score_band", apply(self.score_band, get("score"))),
                    ],
                    join_on=["id"],
                )
                .goto("posts")
                .each()
                .map_to(
                    "posts",
                    fields=[
                        Field("id", get("id")),
                        Field("user_id", get_from_parent("id")),
                        Field("likes", get("likes")),
                    ],
                    join_on=["id"],
                )
                .link_to("users", by={"user_id": "id"})
                .load(_sink(ParquetSink(str(self.out)), tr))
            )
        inner = patched(PipelineBuilder, "run", tr, "fluent.run") if tr.enabled else contextlib.nullcontext()
        with tr.span("streaming.run"), inner:
            p.run()
        self.layer["transforms.apply_calls_per_row"] = (self.calls.value - calls0) / self.mapped_users

    def check(self) -> list[str]:
        got = {
            t: spark_digest(self.spark.read.parquet(str(self.out / t)), spec)
            for t, spec in self.SPECS.items()
        }
        return check_digests(got, self.want)


class NearDupCuration(Workload):
    """MinHash -> LSH candidate pairs -> quality-aware cluster
    canonicalization over a parquet corpus with planted near-dups."""

    name = "near_dup_curation"
    default_size = 4000

    def prepare(self) -> None:
        table, planted = gen.near_dup_corpus(self.seed, self.size)
        self.input = self.work / "docs_in"
        _write_parquet_parts(table, self.input)
        self.ids = table["id"].to_pylist()
        self.score = dict(zip(self.ids, table["score"].to_pylist()))
        self.planted = {(min(a, b), max(a, b)) for a, b in planted}
        self.rows = self.size
        self.sigs = self.pairs = None

    def run(self, tr) -> None:
        docs = self.spark.read.parquet(str(self.input))
        with tr.span("operators.minhash"):
            self.sigs = minhash_signatures(docs, "id", "text").persist()
            self.sigs.count()
        with tr.span("operators.lsh"):
            self.pairs = lsh_candidate_pairs(docs, "id", "text", signatures=self.sigs).persist()
            self.layer["operators.candidate_pairs"] = self.pairs.count()
        with tr.span("operators.clusters"):
            self.result = canonicalize_clusters(docs, self.pairs, "id", "score").toArrow()

    def release(self) -> None:
        for df in (self.sigs, self.pairs):
            if df is not None:
                df.unpersist()
        self.sigs = self.pairs = None
        release_operator_caches()

    def check(self) -> list[str]:
        pairs = [(r["id_a"], r["id_b"]) for r in self.pairs.collect()]
        bad = []
        if len(set(pairs)) != len(pairs) or any(a >= b for a, b in pairs):
            bad.append("candidate pairs not distinct ordered (id_a < id_b)")
        found = len(self.planted & set(pairs)) / max(len(self.planted), 1)
        if found < 0.9:
            bad.append(f"only {found:.1%} of planted near-dup pairs were candidates")
        want = union_find_clusters(self.ids, pairs, self.score)
        got = self.result.to_pydict()
        if len(got["id"]) != len(want):
            bad.append(f"clusters: {len(got['id'])} rows, want {len(want)}")
        wrong = sum(
            1
            for i, c, k, d in zip(got["id"], got["cluster_id"], got["keep"], got["dup_of"])
            if want.get(i) != (c, k, d)
        )
        if wrong:
            bad.append(f"clusters: {wrong} rows differ from the union-find oracle")
        return bad


WORKLOADS = {w.name: w for w in (JsonToDb, NestedMergeParquet, ChunkedStream, NearDupCuration)}
