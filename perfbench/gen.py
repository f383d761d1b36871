"""Seeded input generators, one per workload.

Each generator is a pure function of ``(seed, size)``: it returns plain
Python / pyarrow data and touches neither Spark nor the disk, so the
program under test only ever sees the generated inputs.  The oracle
(``oracle.py``) recomputes every expected result from these same
values, never from the program's output.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa

TAGS = [f"t{i:02d}" for i in range(40)]


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


def users_posts_tags(seed: int, n_users: int) -> dict:
    """One nested JSON document ``{"users": [...]}``: users -> posts ->
    tags.  About 10% of the users are re-sent later in the list with a
    new ``score`` (merged by ``MaxPolicy``); a re-sent user carries the
    same name and posts as its first copy."""
    rng = random.Random(f"users_posts_tags:{seed}")
    users = []
    for i in range(n_users):
        uid = f"u{i:06d}"
        posts = []
        for j in range(rng.randint(0, 4)):
            tags = [
                {"tag": t, "weight": rng.randint(1, 9)}
                for t in rng.sample(TAGS, rng.randint(0, 3))
            ]
            posts.append(
                {
                    "id": f"{uid}-p{j}",
                    "title": f"{_word(rng)} {_word(rng)}",
                    "likes": rng.randint(0, 500),
                    "tags": tags,
                }
            )
        users.append(
            {"id": uid, "name": _word(rng), "score": rng.randint(0, 1000), "posts": posts}
        )
    resent = [dict(u, score=rng.randint(0, 1000)) for u in rng.sample(users, n_users // 10)]
    return {"users": users + resent}


def nested_orders(seed: int, n_docs: int) -> pa.Table:
    """Order documents with 1-7 line structs each.  About 10% of the
    documents repeat an earlier order key; ``seq`` is the arrival order.
    ``customer`` is null in about 20% of the documents."""
    rng = np.random.default_rng([seed, 2])
    n_keys = n_docs - n_docs // 10
    keys = np.concatenate(
        [np.arange(n_keys), rng.integers(0, n_keys, n_docs - n_keys)]
    )
    rng.shuffle(keys)
    n_lines = rng.integers(1, 8, n_docs)
    offsets = np.concatenate([[0], np.cumsum(n_lines)]).astype(np.int32)
    total = int(offsets[-1])
    cust = rng.integers(0, max(n_keys // 4, 1), n_docs)
    cust_null = rng.random(n_docs) < 0.2
    lines = pa.StructArray.from_arrays(
        [
            pa.array(np.char.add("s", np.char.zfill(rng.integers(0, 5000, total).astype(str), 5))),
            pa.array(rng.integers(1, 21, total).astype(np.int64)),
            pa.array(rng.integers(50, 50_000, total).astype(np.int64)),
        ],
        names=["sku", "qty", "price_cents"],
    )
    return pa.table(
        {
            "seq": pa.array(np.arange(n_docs, dtype=np.int64)),
            "order_id": pa.array(np.char.add("o", np.char.zfill(keys.astype(str), 8))),
            "customer": pa.array(
                np.char.add("c", np.char.zfill(cust.astype(str), 7)), mask=cust_null
            ),
            "amount_cents": pa.array(rng.integers(100, 100_000, n_docs).astype(np.int64)),
            "priority": pa.array(rng.integers(0, 10, n_docs).astype(np.int64)),
            "lines": pa.ListArray.from_arrays(pa.array(offsets), lines),
        }
    )


def user_chunks(seed: int, n_chunks: int, users_per_chunk: int) -> list[list[dict]]:
    """``n_chunks`` chunks of one ``{"users": [...]}`` root each.  Chunk
    ``c`` holds a window of a seeded permutation of user ids that starts
    60% of a chunk after the previous one, so 40% of its users were in
    the previous chunk (upserted on arrival).  User ``i`` has ``i % 4``
    posts keyed by user id and position, so the output row counts depend
    on the sizes only; the seed picks the ids' order and the values."""
    rng = random.Random(f"user_chunks:{seed}")
    step = max(users_per_chunk * 3 // 5, 1)
    ids = list(range(step * (n_chunks - 1) + users_per_chunk))
    rng.shuffle(ids)
    chunks = []
    for c in range(n_chunks):
        users = []
        for i in ids[c * step : c * step + users_per_chunk]:
            uid = f"u{i:06d}"
            users.append(
                {
                    "id": uid,
                    "score": rng.randint(0, 1000),
                    "posts": [
                        {"id": f"{uid}-p{j}", "likes": rng.randint(0, 500)} for j in range(i % 4)
                    ],
                }
            )
        chunks.append([{"users": users}])
    return chunks


def near_dup_corpus(seed: int, n_docs: int, words_per_doc: int = 60) -> tuple[pa.Table, list[tuple[int, int]]]:
    """A corpus where about 20% of the documents are one-word edits of
    an earlier base document.  Returns the ``(id, text, score)`` table
    and the planted ``(base_id, dup_id)`` pairs."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array([f"w{i:04d}" for i in range(5000)])
    n_dups = n_docs // 5
    n_base = n_docs - n_dups
    words = rng.integers(0, len(vocab), (n_docs, words_per_doc))
    src = rng.integers(0, n_base, n_dups)
    words[n_base:] = words[src]
    pos = rng.integers(0, words_per_doc, n_dups)
    words[np.arange(n_base, n_docs), pos] = rng.integers(0, len(vocab), n_dups)
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    text = [" ".join(row) for row in vocab[words]]
    table = pa.table(
        {
            "id": pa.array(ids),
            "text": pa.array(text),
            "score": pa.array(rng.random(n_docs)),
        }
    )
    planted = [(int(ids[s]), int(ids[n_base + k])) for k, s in enumerate(src)]
    return table, planted
