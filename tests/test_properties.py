"""Property-based tests (hypothesis) for the merge lifecycle and key
normalization — SURVEY.md §5.4:

- upsert idempotence: save twice ≡ save once (A3/U3/U4)
- rekey conservation: moveto preserves row count up to target-key
  collisions, copyto adds the copies (U6)
- join-key normalization invariance under whitespace/case noise (J2/Str3)
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# NULL key components included deliberately: the merge family joins
# with eqNullSafe and branches isin()/isNull (r7), so NULL keys must
# behave exactly like any other key value in every verb
key = st.tuples(
    st.sampled_from(["p1", "p2", "top", None]),
    st.one_of(st.integers(min_value=0, max_value=5).map(str), st.none()),
)
vals = st.integers(min_value=-100, max_value=100)
rows_strategy = st.lists(st.tuples(key, vals), max_size=8)


def _kv_df(spark, rows):
    return spark.createDataFrame(
        [(pk, rk, v) for (pk, rk), v in rows] or [("z", "z", 0)],
        "PartitionKey STRING, RowKey STRING, v BIGINT",
    )


def _nskey(t):
    # NULL-safe ordering: sort on (is-null, value) per field so rows with
    # NULL key components canonicalize deterministically
    return tuple((v is None, v if v is not None else "") for v in t)


def _canon(df):
    return sorted((tuple(r) for r in df.collect()), key=_nskey)


@SETTINGS
@given(old=rows_strategy, new=rows_strategy)
def test_upsert_replace_idempotent(spark, old, new):
    from otrrentetl_spark.operators.merge import upsert_replace

    old_df = _kv_df(spark, old).dropDuplicates(["PartitionKey", "RowKey"])
    new_df = _kv_df(spark, new)
    once = upsert_replace(old_df, new_df)
    twice = upsert_replace(once, new_df)
    assert _canon(once) == _canon(twice)
    # the result is key-unique whenever the old side was
    assert once.count() == once.select("PartitionKey", "RowKey").distinct().count()


@SETTINGS
@given(rows=rows_strategy)
def test_rekey_conservation(spark, rows):
    from otrrentetl_spark.operators.merge import rekey

    table = _kv_df(spark, rows).dropDuplicates(["PartitionKey", "RowKey"])
    selected = table.filter(F.col("PartitionKey") == "p1")
    n_selected = selected.count()
    top = table.filter(F.col("PartitionKey") == "top")
    # null-safe collision count: rekey matches keys with eqNullSafe, so a
    # NULL RowKey moving into "top" collides with an existing NULL RowKey
    n_collide = top.join(
        selected.select("RowKey").alias("s"),
        top["RowKey"].eqNullSafe(F.col("s.RowKey")),
        "left_semi",
    ).count()
    moved = rekey(table, selected, {"PartitionKey": "top"}, move=True)
    copied = rekey(table, selected, {"PartitionKey": "top"}, move=False)
    assert moved.count() == table.count() - n_collide
    assert copied.count() == table.count() + n_selected - n_collide
    # no source rows remain under the old key after a move
    assert moved.filter(F.col("PartitionKey") == "p1").count() == 0


@SETTINGS
@given(s=st.text(alphabet=st.sampled_from("aA bB\tcC"), max_size=20))
def test_normalize_key_invariance(spark, s):
    """normalize_key is invariant under extra spaces and case flips —
    the property the J2 join depends on."""
    from otrrentetl_spark.functions.strings import normalize_key

    noisy = " ".join(s.upper())  # case-flip + a space between every char
    df = spark.createDataFrame([(s, noisy)], "a STRING, b STRING")
    row = df.select(
        normalize_key("a").alias("ka"), normalize_key("b").alias("kb")
    ).first()
    assert row["ka"] == row["kb"]


# ------------------------------------------------- as-of join vs merge_asof
_asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (key, ts)
    min_size=1,
    max_size=12,
)
_asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(-99, 99)),
    min_size=0,
    max_size=12,
)


@SETTINGS
@given(left=_asof_left, right=_asof_right)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join(union+window formulation) must agree with pandas
    merge_asof(direction='backward') — most recent right value at or
    before each left timestamp, per key — on arbitrary small inputs,
    including duplicate timestamps and keys with no right rows."""
    import pandas as pd

    from otrrentetl_spark.operators.asof import asof_join

    # dedupe right on (key, ts): keep max value, mirroring the
    # operator's documented tie rule for simultaneous right rows
    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = max(v, rmap.get((k, ts), v))
    right_rows = [(k, ts, v) for (k, ts), v in sorted(rmap.items())]
    left_rows = [
        (i, k, ts) for i, (k, ts) in enumerate(sorted(left))
    ]

    ldf = spark.createDataFrame(left_rows, "event_id long, user_id long, ts long")
    rdf = spark.createDataFrame(right_rows, "user_id long, ts long, value long")
    got = {
        r["event_id"]: r["value_asof"]
        for r in asof_join(
            ldf, rdf, on="user_id", ts="ts", value_cols=["value"]
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["event_id", "user_id", "ts"]).sort_values(
        "ts", kind="stable"
    )
    rp = pd.DataFrame(right_rows, columns=["user_id", "ts", "value"]).sort_values(
        "ts", kind="stable"
    )
    if len(rp):
        merged = pd.merge_asof(
            lp, rp, on="ts", by="user_id", direction="backward"
        )
        want = {
            int(r.event_id): (None if pd.isna(r.value) else int(r.value))
            for r in merged.itertuples()
        }
    else:
        want = {int(e): None for e, _, _ in left_rows}
    assert got == want


# ------------------------------------------------------- LSH kernel parity
# The Arrow banding kernel's bit-parity with the md5 expression path is
# load-bearing: it is what makes the fast LSH pipeline oracle-checkable.
# Random ASCII documents (including whitespace runs, empties, and
# shorter-than-shingle texts) must band identically on both paths.
_word = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8
)
_doc = st.lists(_word, max_size=12).map(" ".join)
_ws_noise = st.sampled_from(["", " ", "  ", "\t", "\n"])


@given(docs=st.lists(st.tuples(_doc, _ws_noise, _ws_noise), min_size=1, max_size=6))
@SETTINGS
def test_fast_band_kernel_parity_random_text(spark, docs):
    from otrrentetl_spark.operators import dedup

    rows = [(i, pre + t + post) for i, (t, pre, post) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = df.select(
        "doc_id", dedup._fast_band_udf(8, 4, 3)(F.col("text")).alias("b")
    )
    expr = df.select("doc_id", dedup.minhash_band_hashes("text", 8, 4, 3).alias("b"))
    assert fast.exceptAll(expr).count() == 0
    assert expr.exceptAll(fast).count() == 0


# --------------------------------------------------- span-dedup model check
def _span_dedup_model(rows, k):
    """Independent pure-Python reference for span_dedup semantics."""
    spans = []  # (doc_id, idx, span)
    for doc_id, text in rows:
        t = (text or "").strip(" ")
        toks = __import__("re").split(r"\s+", t, flags=__import__("re").ASCII) if t else []
        if not toks:
            spans.append((doc_id, 0, ""))
            continue
        for idx, s in enumerate(range(0, len(toks), k)):
            spans.append((doc_id, idx, " ".join(toks[s : s + k])))
    first = {}
    for doc_id, idx, sp in spans:
        key = (doc_id, idx)
        if sp not in first or (doc_id, idx) < first[sp]:
            first[sp] = min(first.get(sp, key), key)
    out = {}
    for doc_id, idx, sp in spans:
        n, kept = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, kept + (1 if first[sp] == (doc_id, idx) else 0))
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_span_dedup_matches_pure_python_model(spark, docs):
    from otrrentetl_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"])
        for r in dedup.span_dedup(df, span_tokens=3).collect()
    }
    assert got == _span_dedup_model(rows, 3)


def _boiler_model(rows, k, frac):
    import re as _re

    spans = []
    for doc_id, text in rows:
        t = (text or "").strip(" ")
        toks = _re.split(r"\s+", t, flags=_re.ASCII) if t else []
        if not toks:
            spans.append((doc_id, 0, ""))
            continue
        for idx, s in enumerate(range(0, len(toks), k)):
            spans.append((doc_id, idx, " ".join(toks[s : s + k])))
    docs_of = {}
    for doc_id, _, sp in spans:
        docs_of.setdefault(sp, set()).add(doc_id)
    n_docs = len(rows)
    out = {}
    for doc_id, _, sp in spans:
        n, b = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, b + (1 if len(docs_of[sp]) > n_docs * frac else 0))
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]), max_size=8
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_boilerplate_removal_matches_pure_python_model(spark, docs):
    from otrrentetl_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_boiler"])
        for r in dedup.boilerplate_span_removal(
            df, span_tokens=3, max_doc_frac=0.5
        ).collect()
    }
    assert got == _boiler_model(rows, 3, 0.5)


# keys that exercise the table's directory escaping, the COW bounds
# (ordering of backslash, quote and non-ASCII) and the rule that an
# empty-string partition key is the NULL partition
_TABLE_KEYS = ["p1", "", "a/b", "50%", "ü x", "\\", "'", None]
table_rows = st.lists(
    st.tuples(
        st.tuples(st.sampled_from(_TABLE_KEYS), st.sampled_from(_TABLE_KEYS)),
        vals,
    ),
    max_size=8,
)


def _model_rows(state):
    return sorted(((pk, rk, v) for (pk, rk), v in state.items()), key=_nskey)


def _model_changes(old, new, preimage=False):
    out = []
    for k in old.keys() | new.keys():
        if k not in old:
            out.append((*k, new[k], "insert"))
        elif k not in new:
            out.append((*k, old[k], "delete"))
        elif old[k] != new[k]:
            out.append((*k, new[k], "update"))
            if preimage:
                out.append((*k, old[k], "update_preimage"))
    return sorted(out, key=_nskey)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(["upsert", "delete", "overwrite", "compact"]),
            table_rows,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_keyed_table_model_equivalence(spark, tmp_path, monkeypatch, steps):
    """Model-based check of the snapshot write protocol (r7): a random
    sequence of disk-backed verbs must match an in-memory dict model
    at EVERY committed version — ``read(version=v)`` and
    ``changes(v-1, v)`` with and without pre-images — and in the
    current, pinned-schema ``read()``, on both write paths of the
    driver-sized verbs × both read paths of the change feed (the
    Arrow bound forced to 0 sends every call to Spark; it is set
    separately around the verbs and around each ``changes``).
    The files on disk must be exactly the live and the retired files,
    and after ``vacuum(0)`` exactly the manifest."""
    import os
    import uuid

    from otrrentetl_spark.operators import merge
    from otrrentetl_spark.operators.merge import KeyedParquetTable

    for arrow_max in (0, 10**9):
        path = str(tmp_path / f"model_{uuid.uuid4().hex[:8]}")
        t = KeyedParquetTable(spark, path, ("PartitionKey", "RowKey"))
        t.retain_stale_s = 3600.0  # every version stays readable
        model: dict = {}
        history: dict = {}
        for verb, rows in steps:
            monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", arrow_max)
            df = _kv_df(spark, rows)
            dd = {}
            for (pk, rk), v in rows or [(("z", "z"), 0)]:
                # "" is the NULL partition; dropDuplicates keeps the
                # first occurrence of a key
                dd.setdefault((None if pk == "" else pk, rk), v)
            if verb == "overwrite":
                t.overwrite(_kv_df(spark, list(dd.items())))
                model = dict(dd)
            elif verb == "upsert":
                t.upsert_replace_partitions(df)
                # replace-upsert: same-key rows replaced wholesale,
                # other keys in the touched partitions survive
                model.update(dd)
            elif verb == "delete":
                t.delete_by_keys(df)
                for k in dd:
                    model.pop(k, None)
            elif verb == "compact":
                t.compact()
            snap = t._read_snapshot()
            if snap is not None:
                history[snap["version"]] = dict(model)
        for v, state in history.items():
            got = sorted(
                ((r["PartitionKey"], r["RowKey"], r["v"])
                 for r in t.read(version=v).collect()),
                key=_nskey,
            )
            assert got == _model_rows(state), (arrow_max, v)
            if v - 1 not in history:
                continue
            for read_max in (0, 10**9):
                monkeypatch.setattr(merge, "_ARROW_MAX_ROWS", read_max)
                for pre in (False, True):
                    got = sorted(
                        ((r["PartitionKey"], r["RowKey"], r["v"],
                          r["change_type"])
                         for r in t.changes(v - 1, v, pre).collect()),
                        key=_nskey,
                    )
                    assert got == _model_changes(
                        history[v - 1], state, pre
                    ), (arrow_max, read_max, pre, v)
        snap = t._read_snapshot()
        if snap is not None:
            # the current read goes through the pinned schema, which
            # every file the Arrow path wrote must satisfy
            got = sorted(
                ((r["PartitionKey"], r["RowKey"], r["v"])
                 for r in t.read().collect()),
                key=_nskey,
            )
            assert got == _model_rows(model), arrow_max
            assert os.path.exists(os.path.join(path, "_SNAPSHOT"))
            assert sorted(
                snap["files"] + [f for f, _ in snap["retired"]]
            ) == t._list_data_files()
            t.vacuum(0.0)
            snap = t._read_snapshot()
            assert sorted(snap["files"]) == t._list_data_files()
            assert snap["retired"] == []
