"""The fold kernel (streaming/fold.py).

End to end: a versioned fold over a three-micro-batch stream carries
its state across batches, bumps ``ver`` only on batches that changed a
key, and ``latest`` keeps every row of a key's newest version; the
same fold over the static frame (the batch branch) gives the same
current table.

Per twin, in pure pandas: folding random rows over a random split
reduces to the same current table as one fold over all of them.
Commutative and lattice folds get any split in any order (cdc: any
arrival order, reverse included); ordered folds get splits contiguous
in their order, each micro-batch internally shuffled. Each twin's
batch check (its own file) ties that one fold to its batch operator.
Transitions' split check is ``test_delta_counts_are_mergeable``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dump1090_stream_parser_spark.streaming import (
    asof,
    auc,
    burst,
    cdc,
    compaction,
    countmin,
    digest,
    drift,
    ema,
    heavy_hitters,
    kmv,
    near_dup,
    novelty,
    semantic_dedup,
    similarity,
    stateful,
    subsample,
    theil_sen,
    weighted_sample,
)
from dump1090_stream_parser_spark.streaming.fold import (
    latest,
    versioned,
    versioned_stream,
)

from . import fold_check
from .fold_check import assert_any_split_folds_alike, canon

_SCHEMA = "k long, v long"

_BATCHES = [
    [(1, 1), (1, 1), (2, 1)],
    [(1, 1), (2, 0)],  # k=2: only a zero -- no change, no version
    [(1, 1), (2, 1), (3, 1)],
]


def _fold(key, rows, acc):
    rows = rows[rows["v"] > 0]
    if not len(rows):
        return None
    return ((0 if acc is None else acc[0]) + len(rows),)


def _emit(key, acc):
    # one row per counted unit: a version has many rows
    return pd.DataFrame({"k": [key[0]] * acc[0], "i": range(acc[0])})


def _count(frame):
    return versioned_stream(
        frame, ["k"], _fold, _emit, "n long", "k long, i long"
    )


def _current(rows):
    return sorted(map(tuple, latest(rows, ["k"]).collect()))


def test_versioned_fold_stream_carries_state_and_versions(spark, tmp_path):
    src, out = tmp_path / "in", str(tmp_path / "out")
    for i, rows in enumerate(_BATCHES):
        spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(
            str(src / f"f{i}.parquet")
        )
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        _count(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise AssertionError("fold stream did not finish in 180s")
    assert len(q.recentProgress) >= 3
    raw = spark.read.parquet(out)

    versions = {
        (r["k"], r["ver"]): r["n"]
        for r in raw.groupBy("k", "ver").count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    # state carry: k=1 counts 2, 3, 4 over the three batches; k=2
    # skips batch 2 entirely (its version stays 1 until batch 3)
    assert versions == {
        (1, 1): 2, (1, 2): 3, (1, 3): 4,
        (2, 1): 1, (2, 2): 2,
        (3, 1): 1,
    }
    want = [(1, i) for i in range(4)] + [(2, 0), (2, 1), (3, 0)]
    assert _current(raw) == want
    # the batch branch: one fold per key over the static frame
    union = spark.createDataFrame(
        [row for rows in _BATCHES for row in rows], _SCHEMA
    )
    assert _current(_count(union)) == want


def _ints(hi):
    return lambda r, n: r.integers(0, hi, n)


def _pick(*choices):
    return lambda r, n: r.choice(choices, n)


def _ids(r, n):
    return r.permutation(n)


def _unit(r, n):
    return r.random(n)


def _ts(seconds=10**6):
    return lambda r, n: pd.Timestamp("2024-01-01") + pd.to_timedelta(
        r.integers(0, seconds, n), "s"
    )


def _nan_or(p, value):
    return lambda r, n: np.where(r.random(n) < p, np.nan, value(r, n))


def _frame(**cols):
    """rows(rng, n): one generator per column."""
    return lambda r, n: pd.DataFrame({c: f(r, n) for c, f in cols.items()})


def _v(twin, fold=None):
    return versioned(fold or twin._fold, twin._emit)


def _latest_of(*keys):
    return lambda out: canon(fold_check.latest(out, list(keys)))


def _burst_rows(r, n):
    # 30 days with a two-day gap: closed, zero-filled and scored days
    day = pd.to_timedelta(r.choice(np.r_[0:12, 14:30], n), "D")
    rows = _frame(event_type=_pick("a", "b"), ts=_ts(86400))(r, n)
    return rows.assign(ts=rows["ts"] + day)


def _asof_rows(r, n):
    rows = _frame(key=_ints(6), _side=_ints(2), event_id=_ids, ts=_ts(),
                  value=_nan_or(0.2, _unit))(r, n)
    return rows.assign(value=rows["value"].where(rows["_side"] == 0))


def _sum_per_doc(out):
    per_doc = out.groupby("doc_id", as_index=False)[["n_grams", "n_novel"]]
    return canon(per_doc.sum())


def _top3(out):
    # re-ranked emissions: the emitted set covers the final top-k
    best = out.sort_values(["cos_sim", "vec_id"], ascending=[False, True])
    return canon(best.groupby("bucket").head(3))


def _last_track(out):
    # each batch re-emits the aircraft's cumulative track
    return canon(out.loc[out.groupby("hex_ident")["n_msgs"].idxmax()])


def _vectors(dim):
    return lambda r, n: list(r.normal(size=(n, dim)))


def _distinct_ts(r, n):
    return pd.Timestamp("2024-01-01") + pd.to_timedelta(r.permutation(n), "s")


def _sample(out):
    # the current sample: admitted minus displaced
    kept = out["admitted"] & ~out["doc_id"].isin(out["displaced"])
    return canon(out[kept][["source", "doc_id", "priority"]])


_BY_TS_ID = ["ts", "event_id"]

#: twin -> (step, keys, rows(rng, n), reduce, ordered-by columns or None)
_SPLITS = {
    "asof": (asof._step, ["key"], _asof_rows, canon, _BY_TS_ID),
    "auc": (_v(auc), ["score"],
            _frame(score=lambda r, n: r.integers(0, 20, n) / 20, pos=_ints(2)),
            _latest_of("score"), None),
    "burst": (burst._step, ["event_type"], _burst_rows, canon, ["ts"]),
    # a lattice: any arrival order; few timestamps, so ties fall to
    # event_id
    "cdc": (_v(cdc), ["user_id"],
            _frame(user_id=_ints(6), ts=_ts(40), event_id=_ids,
                   op=_pick("I", "U", "D"), value=_unit),
            lambda out: canon(fold_check.latest(out, ["user_id"])
                              .query("last_op != 'D'")),
            None),
    "compaction": (_v(compaction), ["d", "hr"],
                   _frame(d=lambda r, n: _ts(3)(r, n).floor("D"),
                          hr=_ints(6)),
                   _latest_of("d", "hr"), None),
    "countmin": (versioned(*countmin._make_fold(8)), ["j", "block"],
                 _frame(j=_ints(2), block=_ints(3), slot=_ints(8)),
                 _latest_of("j", "block"), None),
    # 60-bit hashes: the modular sum must not wrap in int64
    "digest": (_v(digest), ["bucket"], _frame(bucket=_ints(4), h=_ints(2**60)),
               _latest_of("bucket"), None),
    "drift": (_v(drift), ["grp"], _frame(grp=_pick(*"abcd"), v=_ints(40)),
              _latest_of("grp"), None),
    "ema": (_v(ema), ["user_id"],
            _frame(user_id=_ints(6), ts=_ts(), event_id=_ids,
                   value=_nan_or(0.1, _unit)),
            _latest_of("user_id"), _BY_TS_ID),
    # ample capacity: exact counting (test_hh_stream checks the bounds
    # under truncation)
    "heavy_hitters": (_v(heavy_hitters, heavy_hitters._make_fold(4096)),
                      ["bucket"], _frame(bucket=_ints(1), key=_ints(50)),
                      _latest_of("bucket"), None),
    # repeated hashes: re-observing a key must not change a min
    "kmv": (_v(kmv, kmv._make_fold(16)), ["source"],
            _frame(source=_pick("a", "b"), h=lambda r, n: r.integers(
                0, 2**60, n // 2).repeat(2)),
            _latest_of("source"), None),
    # each (doc, gram) once, as doc_gram_stream delivers them
    "novelty": (novelty._step, ["bucket"],
                lambda r, n: _frame(doc_id=_ints(40), ghash=_ints(120))(r, n)
                .drop_duplicates().assign(bucket=lambda f: f["ghash"] % 4),
                _sum_per_doc, ["doc_id"]),
    # 16 buckets of ~19 docs: MAX_BUCKET_DOCS (64) is never reached
    "near_dup": (near_dup._step, ["band_idx", "band_key"],
                 _frame(band_idx=_ints(2), band_key=_pick(*"abcdefgh"),
                        doc_id=_ids),
                 canon, ["doc_id"]),
    # judged against lower ids: ordered by id; many pairs pass tau in 4-d
    "semantic_dedup": (semantic_dedup._make_step(semantic_dedup.MAX_CELL_DOCS),
                       ["cell_id"],
                       _frame(cell_id=_ints(4), vec_id=_ids,
                              embedding=_vectors(4)),
                       canon, ["vec_id"]),
    # a coarse score grid: ties fall to the lower vec_id
    "similarity": (similarity._make_step(3), ["bucket"],
                   _frame(bucket=_ints(4), vec_id=_ids,
                          cos_sim=lambda r, n: r.integers(0, 30, n) / 30),
                   _top3, None),
    # an EWMA in event-time order: distinct timestamps
    "stateful": (stateful._step, ["hex_ident"],
                 _frame(hex_ident=_pick("a", "b", "c"),
                        altitude=_nan_or(0.2, _ints(40000)),
                        lat=_nan_or(0.3, _unit), lon=_unit,
                        parsed_time=_distinct_ts),
                 _last_track, ["parsed_time"]),
    "subsample": (_v(subsample), ["grp"],
                  _frame(grp=_pick("1-URGENT", "2-HIGH"), cents=_ints(10**8),
                         h=_ints(2**60)),
                  _latest_of("grp"), None),
    "theil_sen": (_v(theil_sen), ["event_type", "x"],
                  _frame(event_type=_pick("a", "b"), x=_ints(10)),
                  _latest_of("event_type", "x"), None),
    "weighted_sample": (weighted_sample._make_step(5), ["source"],
                        _frame(doc_id=_ids, source=_pick("web", "news"),
                               n_chars=_ints(5000)),
                        _sample, None),
}


@pytest.mark.parametrize("twin", sorted(_SPLITS))
@settings(max_examples=20, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**32 - 1))
def test_fold_any_split_equals_one_fold(twin, seed):
    step, keys, rows, reduce, order = _SPLITS[twin]
    rng = np.random.default_rng(seed)
    assert_any_split_folds_alike(
        step, keys, rows(rng, 300), reduce, rng, order
    )
