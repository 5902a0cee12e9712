"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of ``(seed, size)``:

* :func:`write_tables` writes the ten registry tables (``region`` ...
  ``embeddings``) as Parquet, with the schemas and value domains of the
  engine's TPC-H-ish test tables, so every registry query runs on them
  unchanged.
* :func:`write_threads` writes Reddit and StackExchange threads as CSV in
  the ``schemas.REDDIT_*`` / ``schemas.STACK_*`` shapes, and returns the
  row counts the ETL pipeline must produce from them.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
DOC_WORDS = (
    "a the data spark join hash row batch scan column customer filter small "
    "slow merge order vector line table agg value key stream window part "
    "group big sort query fast"
).split()
EMBED_DIMS = 64
EMBED_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(day: dt.date) -> int:
    return (dt.datetime.combine(day, dt.time()) - _EPOCH).days * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def registry_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (sf=0.01 gives
    60k-ish lineitem rows), as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(150, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    first = _days_us(dt.date(1995, 1, 1)) // _DAY_US
    last = _days_us(dt.date(2001, 8, 1)) // _DAY_US
    order_day = rng.integers(first, last + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(order_day * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    starts = np.cumsum(lines) - lines
    l_num = np.arange(n_line) - np.repeat(starts, lines) + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order.astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": l_num.astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": _ts(
                (order_day[l_order] + rng.integers(1, 96, n_line)) * _DAY_US
            ),
        }
    )
    evt_start = _days_us(dt.date(2024, 1, 1))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype="int64"),
            "ts": _ts(np.sort(evt_start + rng.integers(0, 30 * _DAY_US, n_evt))),
            "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(60.0, n_evt) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in twenty is a copy of an earlier one
    with `` dup`` appended, so the near-duplicate queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(DOC_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ``EMBED_LABELS`` random centres."""
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIMS))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    vecs = 0.15 * centres[labels] + rng.normal(size=(n, EMBED_DIMS)) / 8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(
                list(vecs.astype("float32")), type=pa.list_(pa.float32())
            ),
            "label": labels.astype("int32"),
        }
    )


def write_tables(
    out_dir: str, seed: int, sf: float, tables: dict[str, pa.Table] | None = None
) -> None:
    """Write :func:`registry_tables` (or ``tables``, already made from the
    same seed and scale) as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (tables or registry_tables(seed, sf)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- threads

THREAD_WORDS = np.array([
    a + b + c
    for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze")
    for b in ("bar", "cen", "dol", "fir", "gam", "hup", "jor", "kel")
    for c in ("", "s", "ing", "ed")
])
SUBREDDITS = ("askspark", "datasets", "learnml", "dataengineering")
STACK_SITES = ("stackoverflow", "datascience", "dba")
BOT_BODY = "I'm a bot, and this action was performed automatically"
DELETED = ("[deleted]", "[removed]")
#: ``chunk_text`` window the pipeline uses; the generator predicts its
#: chunk count with the same formula.
CHUNK_SIZE, CHUNK_STRIDE = 120, 90


@dataclass(frozen=True)
class ThreadCounts:
    """What the ETL pipeline must produce from :func:`write_threads` output."""

    posts: int  # corpus rows after the union
    chunks: int  # rows written by the pipeline
    dup_ids: tuple[str, ...]  # planted copies curation must mark near-dup
    csv_bytes: int


def n_chunks(length: int) -> int:
    """``operators.chunking.chunk_text``'s chunk count for a text length."""
    overlap = CHUNK_SIZE - CHUNK_STRIDE
    return max(1, -(-(length - overlap) // CHUNK_STRIDE))


def _sentence(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(THREAD_WORDS, int(rng.integers(lo, hi))))


def write_threads(
    out_dir: str, seed: int, n_posts: int, max_comments: int = 100
) -> ThreadCounts:
    """Write ``reddit_posts.csv``, ``reddit_comments.csv``,
    ``stack_questions.csv`` and ``stack_answers.csv``.

    Half the posts are Reddit, half StackExchange. Each post has 0 to
    ``max_comments`` comments, uniformly (the reference ingests at most
    100 per post). About one post in twenty copies an earlier post's
    title and body on the same platform, the near-copy share of the
    registry's ``documents`` table. Comments include deleted, bot and
    orphan rows that normalization drops. Texts are ASCII so character
    lengths equal byte lengths.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_reddit = n_posts // 2
    n_stack = n_posts - n_reddit
    epoch0 = 1_600_000_000
    texts: dict[str, str] = {}  # id_post -> "title body" after normalization
    dups: list[str] = []

    def post_text(platform: list[tuple[str, str, str]], pid: str) -> tuple[str, str]:
        if platform and rng.random() < 0.05:
            src_id, title, body = platform[int(rng.integers(0, len(platform)))]
            dups.append(max(src_id, pid))  # the larger id loses the tie
        else:
            title, body = _sentence(rng, 4, 10), _sentence(rng, 15, 80)
        platform.append((pid, title, body))
        texts[pid] = f"{title} {body}"
        return title, body

    def comments(parents: list[str]) -> list[tuple]:
        rows = []
        for pid in parents:
            for _ in range(int(rng.integers(0, max_comments + 1))):
                r = rng.random()
                body = (
                    DELETED[int(rng.integers(0, 2))] if r < 0.05
                    else BOT_BODY if r < 0.08
                    else _sentence(rng, 3, 40)
                )
                rows.append((body, int(rng.integers(-5, 200)), pid))
        orphans = [(_sentence(rng, 3, 10), 1, "orphan") for _ in range(3)]
        return rows + orphans

    seen: list[tuple[str, str, str]] = []
    posts, rids = [], []
    for i in range(n_reddit):
        pid = f"r{i:07d}"
        title, body = post_text(seen, pid)
        rids.append(pid)
        posts.append(
            ("Reddit", SUBREDDITS[i % len(SUBREDDITS)], f"t3_{pid}", title, body,
             int(rng.integers(0, 5000)), float(epoch0 + i * 37),
             f"https://reddit.example/{pid}")
        )
    rcom = [
        (f"c{j:08d}", body, score, float(epoch0 + j), parent)
        for j, (body, score, parent) in enumerate(comments(rids))
    ]
    seen = []
    questions, qids = [], []
    for i in range(n_stack):
        qid = 1_000_000 + i
        title, body = post_text(seen, str(qid))
        qids.append(str(qid))
        questions.append(
            ("StackExchange", STACK_SITES[i % len(STACK_SITES)], qid, title,
             f"<p>{body}</p>", int(rng.integers(0, 900)), int(rng.integers(0, 9)),
             epoch0 + i * 53, epoch0 + i * 53 + 3600,
             f"https://stack.example/q/{qid}")
        )
    answers = [
        (5_000_000 + j, f"<p>{body}</p>" if body not in DELETED else body, score,
         epoch0 + j, bool(j % 7 == 0), int(parent) if parent != "orphan" else 1,
         int(rng.integers(1, 9000)), f"user{j % 97}")
        for j, (body, score, parent) in enumerate(comments(qids))
    ]
    files = {
        "reddit_posts.csv": (
            "platform,Subreddit,id_post,title,body,score,created_utc,link", posts),
        "reddit_comments.csv": (
            "id_comment,body,score,created_utc,parent_post_id", rcom),
        "stack_questions.csv": (
            "platform,site,question_id,title,body,score,answer_count,"
            "creation_date,last_activity_date,link", questions),
        "stack_answers.csv": (
            "answer_id,body,score,creation_date,is_accepted,parent_question_id,"
            "owner_reputation,owner_display_name", answers),
    }
    size = 0
    for name, (header, rows) in files.items():
        path = os.path.join(out_dir, name)
        with open(path, "w", newline="") as f:
            f.write(header + "\n")
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
            w.writerows(rows)
        size += os.path.getsize(path)
    return ThreadCounts(
        posts=len(texts),
        chunks=sum(n_chunks(len(t)) for t in texts.values()),
        dup_ids=tuple(sorted(dups)),
        csv_bytes=size,
    )
