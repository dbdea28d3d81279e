"""Text-level assertions for the dialect rewrites added for the
reference SLT sweep (QUALIFY, scalar HAVING, multi-arg GROUPING, ASOF
JOIN, comment/Nullable/quoted-alias cleanup)."""

from databend_spark.sqlgen import (
    auto_alias_view_body,
    inline_select_aliases,
    rewrite_databend_sql as R,
)


def test_scalar_having_aggregate_gets_global_group():
    out = R("SELECT SUM(a) FROM t HAVING SUM(a) > 10")
    assert "GROUP BY GROUPING SETS (())" in out


def test_scalar_having_row_filter_merges_into_where():
    out = R("SELECT a FROM t WHERE a=13 HAVING a > 11")
    assert "HAVING" not in out.upper()
    assert "(a=13) AND (a > 11)" in out


def test_having_with_group_by_untouched():
    out = R("SELECT a, SUM(b) FROM t GROUP BY a HAVING SUM(b) > 1")
    assert "GROUPING SETS" not in out


def test_qualify_projects_hidden_column():
    out = R("SELECT a, rank() OVER (ORDER BY a) r FROM t QUALIFY r = 1")
    assert "__qualify" in out
    assert "QUALIFY" not in out.upper().replace("__QUALIFY", "")


def test_grouping_multi_arg_expands_to_arithmetic():
    out = R("SELECT grouping(a, b) FROM t GROUP BY CUBE(a, b)")
    assert "grouping(a) * 2 + grouping(b)" in out


def test_grouping_single_arg_untouched():
    out = R("SELECT grouping(a) FROM t GROUP BY CUBE(a)")
    assert "grouping(a)" in out and "grouping_id" not in out


def test_asof_join_desugars_to_aggregate_lateral():
    out = R(
        "SELECT t.*, p.price FROM trades t ASOF JOIN prices p "
        "ON t.sym = p.sym AND t.wh >= p.wh"
    )
    assert "LATERAL" in out and "max_by(struct(p.*), p.wh)" in out
    assert "ASOF" not in out.upper()


def test_asof_left_join_keeps_probe_rows():
    out = R(
        "SELECT * FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.t >= b.t"
    )
    assert "LEFT JOIN LATERAL" in out and "ON true" in out


def test_asof_reversed_inequality_uses_min_by():
    out = R("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND b.t >= a.t")
    assert "min_by" in out


def test_asof_missing_inequality_raises():
    import pytest

    from databend_spark.sqlgen import UnsupportedSQL

    with pytest.raises(UnsupportedSQL, match="inequality"):
        R("SELECT * FROM a ASOF JOIN b ON a.k <> b.k")


def test_line_comments_stripped():
    out = R("INSERT INTO t (id) VALUES-- note\n(1)")
    assert "note" not in out


def test_comment_not_stripped_inside_string():
    out = R("SELECT 'a--b' AS s")
    assert "'a--b'" in out


def test_nullable_wrapper_removed():
    out = R("SELECT cast(NULL as Nullable(Int32)) AS n")
    assert "Nullable" not in out


def test_equals_not_boolean_parenthesized():
    out = R("SELECT * FROM t WHERE f = NOT FALSE")
    assert "= (NOT FALSE)" in out


def test_quoted_alias_to_backticks():
    out = R('SELECT a IS DISTINCT FROM 1 AS "Is Distinct" FROM t')
    assert "AS `Is Distinct`" in out


def test_eq_all_desugar():
    # NULL-correct desugar: FALSE if any non-null row differs, NULL if
    # any row (or the probe) is NULL, else TRUE
    out = R("select 1 = all(select 1)")
    assert "CASE WHEN EXISTS" in out
    assert "<>" in out
    assert "CAST(NULL AS BOOLEAN)" in out


def test_inline_select_aliases_substitutes_in_aggs():
    out = inline_select_aliases(
        "SELECT i % 2 AS k, SUM(k) FROM t GROUP BY k ORDER BY k"
    )
    assert "SUM((i % 2))" in out


def test_auto_alias_view_body():
    out = auto_alias_view_body(
        "CREATE VIEW v AS SELECT a, avg(n) FROM t GROUP BY a"
    )
    assert "avg(n) AS `avg(n)`" in out


def test_date_add_unit_form():
    out = R("SELECT date_add(HOUR, 12, ts) FROM t")
    assert "timestampadd(HOUR" in out


def test_any_join_left_dedups_build_side():
    out = R("SELECT t1.id, t2.v FROM t1 LEFT ANY JOIN t2 ON t1.id = t2.id")
    assert "ANY" not in out.upper()
    assert "LEFT JOIN" in out.upper()
    assert "min(struct(t2.*))" in out
    assert "min(struct(t1.*))" not in out


def test_any_join_inner_dedups_both_sides():
    out = R("SELECT * FROM t1 INNER ANY JOIN t2 USING(id)")
    assert "min(struct(t1.*))" in out
    assert "min(struct(t2.*))" in out
    assert "USING (id)" in out


def test_any_join_right_dedups_probe_side():
    out = R("SELECT * FROM t1 RIGHT ANY JOIN t2 ON t1.id = t2.id")
    assert "min(struct(t1.*))" in out
    assert "min(struct(t2.*))" not in out
    assert "RIGHT JOIN" in out.upper()


def test_any_join_build_residual_filters_before_pick():
    out = R(
        "SELECT * FROM t1 INNER ANY JOIN t2 "
        "ON t1.id = t2.id AND t2.v = 'x2'"
    )
    # the one-sided predicate lands inside the dedup subquery (pick
    # among filtered rows), not in the outer ON
    assert "WHERE t2.v =" in out


def test_any_join_without_condition_is_binder_error():
    import pytest

    with pytest.raises(Exception, match=r"\[1065\]"):
        R("SELECT * FROM t1 INNER ANY JOIN t2")


def test_any_join_derived_table_probe():
    """r8 ADVICE: a parenthesized derived-table probe must be captured
    whole — the dedup subquery must not reference only the alias."""
    from databend_spark.sqlgen import _rewrite_any_join

    out = _rewrite_any_join(
        "SELECT * FROM (SELECT * FROM t0 WHERE x > 1) p "
        "INNER ANY JOIN t2 ON p.id = t2.id"
    )
    assert "FROM (SELECT * FROM t0 WHERE x > 1) p GROUP BY" in out
    # the alias-only unresolvable form must be gone
    assert "AS __s FROM p GROUP BY" not in out
    out2 = _rewrite_any_join(
        "SELECT * FROM (SELECT * FROM t0) AS p RIGHT ANY JOIN t2 "
        "ON p.id = t2.id"
    )
    assert "FROM (SELECT * FROM t0) p GROUP BY" in out2


# each rewrite mode and the query whose rewrite it changes
_MODE_QUERIES = {
    "dt_strict": "SELECT try_to_date(s) FROM t",
    "dt_auto": "SELECT try_to_date(s) FROM t",
    "vector_f32": "SELECT cosine_distance(a, b) FROM t",
    "variant_get": "SELECT get(v, 0) FROM t",
    "variant_array": "SELECT array_distinct(v) FROM t",
    "lambda_safe": "SELECT array_transform(a, x -> split(x, ',')) FROM t",
}


def test_each_rewrite_mode_changes_the_rewrite():
    from databend_spark.sqlgen import RewriteModes

    assert set(_MODE_QUERIES) == set(RewriteModes.__dataclass_fields__)
    for mode, q in _MODE_QUERIES.items():
        assert R(q, RewriteModes(**{mode: True})) != R(q), mode
    assert "__variant_access" in R(
        "SELECT get(v, 0) FROM t", RewriteModes(variant_get=True)
    )
    assert "__va_distinct" in R(
        "SELECT array_distinct(v) FROM t", RewriteModes(variant_array=True)
    )


def test_default_rewrite_after_forced_rewrite():
    from databend_spark.sqlgen import RewriteModes

    for mode, q in _MODE_QUERIES.items():
        default = R(q)
        R(q, RewriteModes(**{mode: True}))
        assert R(q) == default, mode


def _race(work, args: list) -> None:
    """Run ``work(arg)`` on one thread per arg, all released together,
    with the interpreter switching threads as often as it can."""
    import sys
    import threading

    start = threading.Barrier(len(args))

    def run(a):
        start.wait()
        work(a)

    threads = [threading.Thread(target=run, args=(a,)) for a in args]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)


def test_rewrite_modes_are_per_thread():
    from databend_spark.sqlgen import RewriteModes

    q = _MODE_QUERIES["variant_get"]
    forced = RewriteModes(variant_get=True)
    want = {RewriteModes(): R(q), forced: R(q, forced)}
    wrong: list[RewriteModes] = []

    def work(m):
        for _ in range(100):
            if R(q, m) != want[m]:
                wrong.append(m)

    # more threads than cores, each mode on half of them
    _race(work, [m for m in want for _ in range(4)])
    assert not wrong


def test_literal_tables_are_per_thread():
    """array_aggregate reads its operation name from the masked-literal
    table; concurrent rewrites must each see their own table."""
    queries = [f"SELECT array_aggregate(a, '{op}') FROM t" for op in ("max", "sum")]
    want = {q: R(q) for q in queries}
    assert len(set(want.values())) == 2
    wrong: list[str] = []

    def work(q):
        for _ in range(100):
            if R(q) != want[q]:
                wrong.append(q)

    _race(work, [q for q in queries for _ in range(4)])
    assert not wrong
