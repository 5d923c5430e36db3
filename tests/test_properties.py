"""Property-based tests (hypothesis): algebraic invariants that must
hold for arbitrary inputs, not just the fixtures.

Examples are kept small and few (each one runs real Spark jobs); the
properties are the point — wide->long->wide is lossless for keyed rows
with at least one non-null measure, combine_parts reconstructs the
original wide row from any column split, and salting never changes an
aggregation's answer.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ffiec_pq_spark.operators.combine import combine_parts
from ffiec_pq_spark.operators.reshape import pivot_long_df, unpivot_typed
from ffiec_pq_spark.operators.skew import salted_agg

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small float grid: exact in float64, so equality is exact
_vals = st.one_of(st.none(), st.integers(-4, 4).map(lambda i: i * 0.25))

_rows = st.lists(
    st.tuples(_vals, _vals, _vals),
    min_size=1,
    max_size=12,
)


def _wide(spark, rows):
    data = [(i, a, b, c) for i, (a, b, c) in enumerate(rows)]
    return spark.createDataFrame(
        data, "id int, m1 double, m2 double, m3 double"
    )


@settings(**_SETTINGS)
@given(rows=_rows)
def test_unpivot_pivot_roundtrip(spark, rows):
    wide = _wide(spark, rows)
    long = unpivot_typed(wide, ids=["id"], values=["m1", "m2", "m3"])
    back = pivot_long_df(
        long, id_cols=["id"], items=["m1", "m2", "m3"], values_fn="first"
    )
    got = {r["id"]: (r["m1"], r["m2"], r["m3"]) for r in back.collect()}
    for i, (a, b, c) in enumerate(rows):
        if a is None and b is None and c is None:
            # sparse-long semantics: all-null rows vanish (row absence)
            assert i not in got
        else:
            assert got[i] == (a, b, c)


@settings(**_SETTINGS)
@given(
    rows=_rows,
    split=st.integers(1, 2),
)
def test_combine_parts_reconstructs(spark, rows, split):
    """Any column split (with the overlap carrying equal values) folds
    back to the original row set."""
    wide = _wide(spark, rows)
    cols = ["m1", "m2", "m3"]
    left = wide.select("id", *cols[: split + 1])       # overlap col included
    right = wide.select("id", *cols[split:])
    combined = combine_parts([left, right], keys=["id"])
    # reference column-order contract (dplyr full_join + in-place
    # coalesce): left's columns at their positions, right-only appended
    want_cols = ["id"] + cols[: split + 1] + cols[split + 1:]
    assert combined.columns == want_cols, combined.columns
    got = {r["id"]: tuple(r[c] for c in cols) for r in combined.collect()}
    want = {i: t for i, t in enumerate(rows)}
    assert got == want


_ts_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10_000)),  # (key, ts seconds)
    min_size=1,
    max_size=16,
)


@settings(**_SETTINGS)
@given(left=_ts_rows, right=_ts_rows)
def test_asof_join_matches_bruteforce(spark, left, right):
    """The union-interleave as-of join must equal the quadratic
    definition: for each left row, the right value with the max
    right_ts <= left_ts on the same key."""
    from ffiec_pq_spark.operators.windows import asof_join

    ldf = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(left)],
        "k int, lts double, lid int",
    ).withColumn("lts", F.timestamp_seconds("lts"))
    rdf = spark.createDataFrame(
        [(k, float(t), float(t) + 0.5) for k, t in right],
        "k int, rts double, rv double",
    ).withColumn("rts", F.timestamp_seconds("rts"))
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts", right_vals=["rv"]
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [rt for rk, rt in right if rk == k and rt <= t]
        want = (max(cands) + 0.5) if cands else None
        assert got[i] == want, f"left row {i} (k={k}, t={t})"


@settings(**_SETTINGS)
@given(rows=_ts_rows, gap_min=st.sampled_from([1, 5, 30]))
def test_sessionize_gap_invariants(spark, rows, gap_min):
    """Sessions partition each key's events; gaps within a session are
    <= gap, gaps between consecutive sessions are > gap, and counts sum
    to the number of events."""
    from ffiec_pq_spark.operators.windows import sessionize

    df = spark.createDataFrame(
        [(k, float(t)) for k, t in rows], "user_id int, tsec double"
    ).withColumn("ts", F.timestamp_seconds("tsec"))
    out = sessionize(df, "user_id", "ts", gap_minutes=gap_min).collect()
    gap_s = gap_min * 60
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append(r)
    assert sum(r["n_events"] for r in out) == len(rows)
    for k, sess in by_key.items():
        sess.sort(key=lambda r: r["session_start"])
        ts_sorted = sorted(t for kk, t in rows if kk == k)
        for a, b in zip(sess, sess[1:]):
            gap = (b["session_start"] - a["session_end"]).total_seconds()
            assert gap > gap_s, f"key {k}: sessions closer than the gap"
        # every event of the key falls inside exactly one session span
        for t in ts_sorted:
            n_in = sum(
                1
                for r in sess
                if r["session_start"].timestamp() <= t <= r["session_end"].timestamp()
            )
            assert n_in == 1, f"event t={t} of key {k} in {n_in} sessions"


@settings(**_SETTINGS)
@given(rows=_rows, n_salts=st.sampled_from([2, 7, 16]))
def test_salted_agg_equals_plain(spark, rows, n_salts):
    df = _wide(spark, rows).withColumn("k", (F.col("id") % 2).cast("string"))
    salted = salted_agg(
        df,
        keys=["k"],
        salt_from="id",
        metrics={
            "n": ("count(1)", "sum"),
            "s1": ("sum(m1)", "sum"),
            "mx": ("max(m2)", "max"),
        },
        n_salts=n_salts,
    )
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m1").alias("s1"),
        F.max("m2").alias("mx"),
    )

    def norm(df_):
        out = {}
        for r in df_.collect():
            out[r["k"]] = (
                r["n"],
                None if r["s1"] is None else round(r["s1"], 9),
                r["mx"],
            )
        return out

    assert norm(salted) == norm(plain)


_texts = st.text(alphabet="ab cd", min_size=0, max_size=40)


@settings(**_SETTINGS)
@given(prefix=_texts, suffix=_texts, core=st.text(alphabet="xyz w", min_size=12, max_size=20))
def test_winnow_shared_substring_shares_fingerprint(spark, prefix, suffix, core):
    """Winnowing guarantee: two documents sharing a substring of length
    >= window + k - 1 (= 8 at k=5, w=4) have intersecting fingerprint
    sets, regardless of what surrounds the shared part.

    The core is drawn from a disjoint alphabet so whitespace collapse
    in normalization can't shorten it below the guarantee threshold."""
    from ffiec_pq_spark.operators.text import winnow_fingerprints_df

    core = core.replace(" ", "w")  # keep the shared run unbroken
    doc_a = f"{prefix} {core} {suffix}"
    doc_b = f"{suffix}{suffix} {core} {prefix}a"
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in winnow_fingerprints_df(df, "text", "doc_id", k=5, window=4).collect()
    }
    assert fps[0] & fps[1], (doc_a, doc_b)


_doc_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=24), min_size=1, max_size=8
)


@settings(**_SETTINGS)
@given(texts=_doc_texts, dups=st.integers(1, 3))
def test_collapse_exact_equals_naive(spark, texts, dups):
    """The duplicate-collapse rewrite of the pairwise dedup operators
    (run on distinct-content representatives, expand back to copies)
    must be row-identical to the naive formulation — including under
    replication (every doc duplicated ``dups`` times with shifted ids),
    empty shingle sets, and the df-cap's weighted-frequency semantics."""
    from ffiec_pq_spark.operators.dedup import jaccard_pairs, minhash_near_dups

    rows = []
    for rep in range(dups):
        rows += [
            (i + rep * 1000, t) for i, t in enumerate(texts)
        ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, kw in [
        (jaccard_pairs, dict(k=2, threshold=0.2, max_shingle_df=3)),
        (jaccard_pairs, dict(k=2, threshold=0.2)),
        (minhash_near_dups, dict(k=2, n_perm=8, n_bands=4, threshold=0.2)),
    ]:
        a = sorted(
            tuple(r) for r in fn(df, **kw, collapse_exact=True).collect()
        )
        b = sorted(
            tuple(r) for r in fn(df, **kw, collapse_exact=False).collect()
        )
        assert a == b, (kw, a, b)


@settings(**_SETTINGS)
@given(
    n=st.integers(1, 12),
    k=st.integers(1, 4),
    seed=st.integers(0, 3),
)
def test_knn_exact_topk_matches_bruteforce(spark, n, k, seed):
    """knn_exact_topk's local-top-k pruning (ties kept at the k-th
    rounded score) must reproduce the exact global top-k under
    (s DESC, t_id ASC) for arbitrary small corpora, including rounded
    score ties from repeated vectors."""
    import itertools

    from pyspark.sql import Window

    from ffiec_pq_spark.operators.similarity import knn_exact_topk

    # deterministic small vectors with planted duplicates (score ties)
    vecs = []
    for i in range(n):
        base = [(((i * 7 + j * 3 + seed) % 5) - 2) * 0.5 + 0.25 for j in range(4)]
        vecs.append((i, base, f"l{i % 2}"))
    vecs.append((n, vecs[0][1], "l1"))  # exact duplicate -> tied scores
    t = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    )
    q = spark.createDataFrame(
        [(100, [0.5, -0.25, 0.75, 0.1])], "vec_id long, embedding array<double>"
    )
    cand = knn_exact_topk(t, q, k=k)
    w = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("t_id"))
    got = [
        (r["t_id"], r["s"])
        for r in cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .orderBy("rn")
        .collect()
    ]
    # python-side brute force with identical rounding and ordering
    import math

    qv = [0.5, -0.25, 0.75, 0.1]
    nq = math.sqrt(sum(x * x for x in qv))

    def score(v):
        d = sum(a * b for a, b in zip(qv, v))
        nv = math.sqrt(sum(x * x for x in v))
        return round(d / (nv * nq), 6)

    ref = sorted(
        ((tid, score(v)) for tid, v, _ in vecs),
        key=lambda p: (-p[1], p[0]),
    )[:k]
    assert got == ref


# ---------------------------------------------------------------------------
# repair_member_text fuzz: plant embedded newlines / extra tabs at
# arbitrary row+field positions and assert the two-phase repair always
# restores a rectangular member (the CRLF interaction in
# sources/tsv.py:113-125 was previously pinned by 3 handwritten cases).

_field = st.text(alphabet="abc xyz0", min_size=1, max_size=6)


@st.composite
def _corrupted_member(draw):
    n_cols = draw(st.integers(2, 5))
    n_rows = draw(st.integers(1, 8))
    rows = [
        [draw(_field) for _ in range(n_cols)] for _ in range(n_rows)
    ]
    # newline corruption: inject at an interior/end position (pos >= 1)
    # of a field — never pos 0, where the preceding character in the
    # assembled text is a row-boundary tab or newline and the repair
    # regex deliberately refuses to join
    nl_plan = {}
    for r in range(n_rows):
        for c in range(n_cols):
            if draw(st.booleans()) and draw(st.integers(0, 3)) == 0:
                pos = draw(st.integers(1, len(rows[r][c])))
                tok = draw(st.sampled_from(["\n", "\r\n"]))
                nl_plan[(r, c)] = (pos, tok)
    # extra-tab corruption: only in the LAST field (mid-field tabs merge
    # neighbouring fields by design, shifting values; last-field tabs
    # have exact space-join semantics)
    tab_rows = {
        r
        for r in range(n_rows)
        if draw(st.booleans()) and draw(st.integers(0, 3)) == 0
    }
    terminators = [
        draw(st.sampled_from(["\n", "\r\n"])) for _ in range(n_rows)
    ]
    return rows, nl_plan, tab_rows, terminators, n_cols


@settings(max_examples=120, deadline=None)
@given(data=_corrupted_member())
def test_repair_member_text_fuzz(data):
    from ffiec_pq_spark.sources.tsv import repair_member_text

    rows, nl_plan, tab_rows, terminators, n_cols = data
    # a planted tab immediately before a planted newline would make the
    # newline tab-adjacent — the exact boundary the repair regex treats
    # as legitimate — so tab and newline corruption are exclusive per
    # field: no last-field tab on rows whose LAST field takes a newline
    tab_rows = {r for r in tab_rows if (r, n_cols - 1) not in nl_plan}
    corrupted_rows = []
    for r, fields in enumerate(rows):
        fs = list(fields)
        for (rr, cc), (pos, tok) in nl_plan.items():
            if rr == r:
                f = fs[cc]
                fs[cc] = f[:pos] + tok + f[pos:]
        if r in tab_rows:
            mid = max(1, len(fields[-1]) // 2)
            fs[-1] = fs[-1][:mid] + "\t" + fs[-1][mid:]
        corrupted_rows.append("\t".join(fs) + "\t")
    text = "".join(
        line + term for line, term in zip(corrupted_rows, terminators)
    )

    repaired, tags = repair_member_text(text, n_cols)
    lines = repaired.split("\n")
    if lines and lines[-1] == "":
        lines.pop()

    # rectangularity: every row survives with exactly n_cols fields and
    # its trailing delimiter tab
    assert len(lines) == len(rows)
    for ln in lines:
        assert ln.endswith("\t")
        assert len(ln[:-1].split("\t")) == n_cols

    # value semantics: newline -> single space at the same offset;
    # last-field tab -> space; untouched rows byte-identical
    for r, fields in enumerate(rows):
        expect = list(fields)
        if r in tab_rows:
            mid = max(1, len(expect[-1]) // 2)
            expect[-1] = expect[-1][:mid] + " " + expect[-1][mid:]
        for (rr, cc), (pos, _tok) in nl_plan.items():
            if rr == r:
                f = expect[cc]
                expect[cc] = f[:pos] + " " + f[pos:]
        assert lines[r] == "\t".join(expect) + "\t", f"row {r}"

    # tag accounting
    assert ("newline-gsub" in tags) == bool(nl_plan)
    assert ("tab-repair" in tags) == bool(tab_rows)


def test_semantic_dedup_counts_matches_naive_with_duplicates(spark):
    """The rep-collapse rewrite must equal the naive all-pairs drop
    rule on a corpus with exact-duplicate groups (the path sf* data
    never exercises: no byte-identical vectors there), including a
    zero-norm duplicate group whose NULL cosines drop nothing."""
    import math

    from ffiec_pq_spark.operators.similarity import semantic_dedup_counts

    vecs = {
        # cell 0: dup group {1, 4, 9} + near-dup 2 of 1 + unrelated 3
        1: [1.0, 0.0, 0.0],
        4: [1.0, 0.0, 0.0],
        9: [1.0, 0.0, 0.0],
        2: [0.99, 0.1, 0.0],
        3: [0.0, 1.0, 0.0],
        # cell 1: zero-norm dup group {5, 6} + singleton 7, 8 similar to 7
        5: [0.0, 0.0, 0.0],
        6: [0.0, 0.0, 0.0],
        7: [0.0, 0.0, 1.0],
        8: [0.0, 0.05, 1.0],
    }
    cells = {1: 0, 4: 0, 9: 0, 2: 0, 3: 0, 5: 1, 6: 1, 7: 1, 8: 1}
    tau = 0.9

    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    asg = spark.createDataFrame(
        [(i, c) for i, c in cells.items()], "id long, cell int"
    )
    got = {
        r["cell"]: (r["n_members"], r["n_dropped"], r["n_kept"])
        for r in semantic_dedup_counts(emb, asg, tau).collect()
    }

    # naive: drop x iff exists y < x same cell with round(cos, 6) >= tau
    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return None
        return round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6)

    want = {}
    for c in set(cells.values()):
        ids = sorted(i for i, cc in cells.items() if cc == c)
        dropped = sum(
            1
            for x in ids
            if any(
                (s := cos(vecs[x], vecs[y])) is not None and s >= tau
                for y in ids
                if y < x
            )
        )
        want[c] = (len(ids), dropped, len(ids) - dropped)
    assert got == want


@settings(**_SETTINGS)
@given(
    member_keys=st.sets(st.integers(0, 400), min_size=0, max_size=30),
    probe_keys=st.sets(st.integers(0, 400), min_size=1, max_size=30),
)
def test_bloom_bits_never_false_negative(spark, member_keys, probe_keys):
    """The relational Bloom pattern's guarantee: every probe that IS a
    member must be flagged (all k bit positions present), for arbitrary
    member/probe sets."""
    from ffiec_pq_spark.functions.hashing import hash60

    m_bits, k = 512, 3
    if member_keys:
        members = spark.createDataFrame(
            [(x,) for x in member_keys], "key long"
        )
        positions = F.array(
            *[(hash60(F.col("key"), seed=j) % m_bits) for j in range(k)]
        )
        bits = {
            r["bit"]
            for r in members.select(
                F.explode(positions).alias("bit")
            ).collect()
        }
    else:
        bits = set()
    probes = spark.createDataFrame([(x,) for x in probe_keys], "key long")
    positions = F.array(
        *[(hash60(F.col("key"), seed=j) % m_bits) for j in range(k)]
    )
    got = {
        r["key"]: set(r["ps"])
        for r in probes.select("key", positions.alias("ps")).collect()
    }
    for key, ps in got.items():
        flagged = ps <= bits
        if key in member_keys:
            assert flagged, f"member {key} not flagged (false negative)"


@settings(**_SETTINGS)
@given(
    base=st.dictionaries(st.integers(0, 20), st.integers(0, 100), max_size=12),
    updates=st.dictionaries(st.integers(0, 20), st.integers(0, 100), max_size=12),
)
def test_upsert_merge_equals_dict_update(spark, base, updates):
    """The grouped max_by merge must equal Python dict semantics:
    updates win on key collision, both sides' exclusive keys survive."""
    rows = [(k, float(v), 1) for k, v in base.items()] + [
        (k, float(v), 2) for k, v in updates.items()
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, val double, version int")
    merged = (
        df.groupBy("k")
        .agg(F.max(F.struct("version", "val")).alias("s"))
        .select("k", "s.val")
    )
    got = {r["k"]: r["val"] for r in merged.collect()}
    want = {**{k: float(v) for k, v in base.items()},
            **{k: float(v) for k, v in updates.items()}}
    assert got == want


def test_leakage_safe_split_colocates_duplicates(spark, tmp_path):
    """With byte- and whitespace-variant duplicates present, every copy
    group lands in ONE split (n_straddling_groups = 0) and counts
    reconcile: rows sum to the corpus, groups sum to distinct
    contents."""
    from ffiec_pq_spark.queries.curation import leakage_safe_split_counts

    rows = []
    for i in range(60):
        base = f"document body number {i % 20} with shared content"
        text = base if i % 3 == 0 else ("  " + base.upper().lower() + " ")
        rows.append((i, text, "en", "src", len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["split"]: r
        for r in leakage_safe_split_counts(spark, str(tmp_path)).collect()
    }
    assert sum(r["n_docs"] for r in out.values()) == 60
    assert sum(r["n_groups"] for r in out.values()) == 20
    assert all(r["n_straddling_groups"] == 0 for r in out.values())


_cell = st.sampled_from(
    ["1.5", "-2", "abc", "", "NA", "N/A", "0", "20240331", "00000000",
     "3.14e2", " 7 ", "x y", "\r", "\u0085", "\u2028"]
)
_row = st.lists(_cell, min_size=3, max_size=6)  # 4 = correct field count


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows_a=st.lists(_row, min_size=1, max_size=6),
    rows_b=st.lists(_row, min_size=1, max_size=6),
    crlf=st.booleans(),
)
def test_read_pass_parity_fuzz(spark, tmp_path_factory, rows_a, rows_b, crlf):
    """The one-pass read must equal the per-member path for ARBITRARY
    cell soup: NA tokens, date sentinels, unparsable typed fields,
    wrong field counts, CRLF endings, and the line terminators Java's
    regex ``$`` honours but Python's split does not (\\r, \\u0085,
    \\u2028)."""
    import zipfile as _zf

    from ffiec_pq_spark.sources.tsv import make_colspec
    from tests.test_sources import assert_pass_matches_member_stats

    header = ["IDRSSD", "VAL_D", "DT_D", "TXT_C"]
    type_dict = {"VAL_D": "d", "DT_D": "D", "TXT_C": "c"}
    term = "\r\n" if crlf else "\n"

    def member_text(rows):
        out = ["\t".join(header) + "\t", "junk descriptions\t"]
        for r in rows:
            out.append("\t".join(r) + "\t")
        return term.join(out) + term

    d = tmp_path_factory.mktemp("fuzz_zip")
    zp = str(d / "bulk.zip")
    with _zf.ZipFile(zp, "w") as z:
        z.writestr("Schedule A 03312024(1 of 2).txt", member_text(rows_a))
        z.writestr("Schedule A 03312024(2 of 2).txt", member_text(rows_b))

    colspecs = {
        m: make_colspec(header, type_dict)
        for m in ("Schedule A 03312024(1 of 2).txt",
                  "Schedule A 03312024(2 of 2).txt")
    }
    assert_pass_matches_member_stats(spark, zp, colspecs)


_anchor_sets = st.lists(
    st.integers(1, 40), min_size=1, max_size=15, unique=True
)


@settings(**_SETTINGS)
@given(pos=_anchor_sets, k=st.integers(2, 9))
def test_spans_from_anchors_gaps_and_islands_invariants(spark, pos, k):
    """For ANY anchor position set: regions are disjoint, every anchor
    falls inside exactly one region, consecutive anchors within a
    region are <= k apart, distinct regions are > k apart, and each
    region's token extent is [min_pos, max_pos + k - 1]."""
    from ffiec_pq_spark.operators.exactsubstr import spans_from_anchors

    df = spark.createDataFrame([(1, p) for p in pos], "id long, pos long")
    spans = sorted(
        (r["span_start"], r["span_end"], r["n_anchors"])
        for r in spans_from_anchors(df, k).collect()
    )
    pos_sorted = sorted(pos)
    # rebuild expected islands in plain python
    groups, cur = [], [pos_sorted[0]]
    for p in pos_sorted[1:]:
        if p - cur[-1] <= k:
            cur.append(p)
        else:
            groups.append(cur)
            cur = [p]
    groups.append(cur)
    expected = sorted(
        (g[0], g[-1] + k - 1, len(g)) for g in groups
    )
    assert spans == expected
    # disjoint + separated by > k (anchor gap), extent arithmetic holds
    for (s1, e1, _), (s2, _, _) in zip(spans, spans[1:]):
        assert e1 < s2


_grid_vec4 = st.lists(
    st.integers(-4, 4).map(lambda i: i * 0.25),
    min_size=4,
    max_size=4,
)


@settings(**_SETTINGS)
@given(vecs=st.lists(_grid_vec4, min_size=2, max_size=10), k=st.integers(1, 3))
def test_pq_assignment_is_argmin(spark, vecs, k):
    """Every (id, sub) code pq_codes emits must be the argmin of the
    rounded squared distance over that subspace's codebook, ties to
    the lowest cell — brute-forced in Python with identical rounding
    (grid values are exact binary rationals, so round(·, 9) can never
    sit on a half boundary)."""
    from ffiec_pq_spark.operators.pq import pq_codes, pq_init

    k = min(k, len(vecs))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    books = pq_init(df, m=2, sub_dim=2, k=k)
    got = {
        (r["id"], r["sub"]): (r["cell"], r["d"])
        for r in pq_codes(df, books).collect()
    }
    for i, v in enumerate(vecs):
        for s in range(2):
            sub_v = v[s * 2 : (s + 1) * 2]
            dists = [
                (round(sum((x - c) * (x - c) for x, c in zip(sub_v, cent)), 9), j)
                for j, cent in enumerate(books[s])
            ]
            want = min(dists)
            assert got[(i, s)] == (want[1], want[0]), (i, s, dists, got[(i, s)])


@settings(**_SETTINGS)
@given(vecs=st.lists(_grid_vec4, min_size=1, max_size=10), k=st.integers(1, 5))
def test_kcenter_matches_bruteforce(spark, vecs, k):
    """kcenter_select must reproduce the pure-Python greedy
    farthest-point traversal exactly (seed = lowest id, argmax of the
    running min-distance, ties to the lowest id, stop when the cover
    is exact) — including duplicate vectors, which trigger early
    stop."""
    from ffiec_pq_spark.operators.coreset import kcenter_select

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = kcenter_select(df, k=k)

    def nano(a, b):
        return int(round(sum((x - y) * (x - y) for x, y in zip(a, b)), 9) * 1e9)

    want = [(1, 0, 0)]
    dmin = {i: nano(v, vecs[0]) for i, v in enumerate(vecs)}
    for t in range(2, k + 1):
        far = max(dmin.items(), key=lambda kv: (kv[1], -kv[0]))
        # ties -> lowest id: max on (nano, -id)
        if far[1] == 0:
            break
        want.append((t, far[0], far[1]))
        for i, v in enumerate(vecs):
            dmin[i] = min(dmin[i], nano(v, vecs[far[0]]))
    assert got == want, (got, want)


@given(
    st.lists(
        st.floats(
            min_value=0.0,
            max_value=1e3,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_np_round9_matches_spark_round_property(spark, vals):
    """_np_round9 (the pandas-UDF scorer's rounding) must equal
    Spark's round(double, 9) on ARBITRARY non-negative doubles in the
    squared-distance range, not just the hand-picked boundary cases —
    the cross-engine tie-break discipline of the whole PQ family rests
    on this equality."""
    from ffiec_pq_spark.operators.pq import _np_round9

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    expected = [
        r["r"] for r in df.select(F.round("x", 9).alias("r")).collect()
    ]
    got = list(_np_round9([float(v) for v in vals]))
    assert got == expected, list(zip(vals, got, expected))


def test_combine_parts_interleaves_first_seen_order(spark):
    """The reference keeps the LEFT frame's column positions (keys and
    coalesced overlap columns stay where they sat) and appends only the
    right's new columns — a three-part fold with the key mid-frame and
    interleaved overlaps pins the exact order."""
    a = spark.createDataFrame([(1.0, 1, None)], "x double, id int, y double")
    b = spark.createDataFrame([(1, 2.0, 3.0)], "id int, y double, z double")
    c = spark.createDataFrame([(9.0, 1, 4.0)], "x double, id int, w double")
    out = combine_parts([a, b, c], keys=["id"])
    assert out.columns == ["x", "id", "y", "z", "w"], out.columns
    row = out.collect()[0]
    # left wins on overlap (x from part a; y coalesces a's NULL to b's)
    assert (row["x"], row["y"], row["z"], row["w"]) == (1.0, 2.0, 3.0, 4.0)


# ---------------------------------------------------------------------------
# linear-probe integer recursion: Python driver loop == unrolled SQL CTEs


@given(
    data=st.lists(
        st.tuples(
            st.lists(
                st.integers(-2000, 2000).map(lambda i: i / 1000.0),
                min_size=3, max_size=3,
            ),
            st.integers(0, 1),
        ),
        min_size=1, max_size=12,
    ),
)
@settings(max_examples=20, deadline=None)
def test_probe_fit_python_matches_sql_replay(data):
    """probe_fit_int (the driver-side loop) must agree BIT-FOR-BIT with
    the unrolled-CTE recursion the oracle runs, for arbitrary inputs on
    the quantization grid — pure DuckDB vs pure Python, no Spark, so
    hypothesis can afford real example counts.  This is the guarantee
    that keeps embedding_probe_* certifiable on ANY corpus, not just
    the fixture."""
    import duckdb

    from ffiec_pq_spark.operators.linear_probe import (
        PROBE_D_PER_N,
        PROBE_SW,
        PROBE_SX,
        probe_fit_int,
    )

    d = 3
    n = len(data)
    # exact integer statistics, straight from the definition
    xq = [[int(round(x * PROBE_SX)) for x in vec] for vec, _ in data]
    a = [
        [sum(xq[r][i] * xq[r][j] for r in range(n)) for j in range(d)]
        for i in range(d)
    ]
    b = [sum(xq[r][i] * data[r][1] for r in range(n)) for i in range(d)]
    w_py = probe_fit_int(a, b, n, iters=3)

    con = duckdb.connect()
    con.execute("CREATE TABLE g (i INT, j INT, aa BIGINT)")
    con.executemany(
        "INSERT INTO g VALUES (?, ?, ?)",
        [(i, j, a[i][j]) for i in range(d) for j in range(d)],
    )
    con.execute("CREATE TABLE bv (i INT, bs BIGINT)")
    con.executemany(
        "INSERT INTO bv VALUES (?, ?)",
        [(i, b[i] * PROBE_SX * PROBE_SW) for i in range(d)],
    )
    dd = n * PROBE_D_PER_N
    ctes = ["w0 AS (SELECT i, CAST(0 AS BIGINT) AS v FROM bv)"]
    for t in range(3):
        ctes.append(
            f"g{t} AS (SELECT g.i AS i, sum(g.aa * w.v) - bv.bs AS gg "
            f"FROM g JOIN w{t} w ON w.i = g.j JOIN bv ON bv.i = g.i "
            f"GROUP BY g.i, bv.bs)"
        )
        ctes.append(
            f"w{t + 1} AS (SELECT gq.i, w.v - (CASE WHEN gq.gg < 0 "
            f"THEN -((-gq.gg) // {dd}) ELSE gq.gg // {dd} END) AS v "
            f"FROM g{t} gq JOIN w{t} w USING (i))"
        )
    sql = "WITH " + ", ".join(ctes) + " SELECT v FROM w3 ORDER BY i"
    w_sql = [r[0] for r in con.execute(sql).fetchall()]
    con.close()
    assert w_py == w_sql
