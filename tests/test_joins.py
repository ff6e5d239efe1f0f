"""Join semantics against the reference's outer-join truth tables
(unit_tests.py:1682-1796) and the join_on DSL (littletable.py:4602-4683)."""

from littletable_spark import Table


def test_inner_join_counts(abc, spark):
    other = abc.clone("other")
    j = abc.join(other, **{"a": "a"})
    # self-join on a: each a-value has 9 rows -> 9*9 per value * 3 values
    assert len(j) == 3 * 81


def test_inner_join_projection_collision_drop(catalog_prices):
    catalog, prices = catalog_prices
    j = catalog.join(prices, **{"sku": "sku"})
    # size collides -> left's kept, right's dropped (littletable.py:2481-2486)
    assert j.fields == ["sku", "color", "size", "material", "unit_price"]
    assert len(j) == 3


def test_left_outer_join(catalog_prices):
    """Reference naming is inverted vs SQL: LEFT_OUTER_JOIN's key
    universe comes from the OTHER table (littletable.py:2631-2658), so
    all price rows survive and unmatched catalog rows are dropped."""
    catalog, prices = catalog_prices
    j = catalog.outer_join(Table.LEFT_OUTER_JOIN, prices, **{"sku": "sku"})
    assert len(j) == 4  # 001 twice, 002 once, 005 unmatched; 003/004 dropped
    unmatched = [r for r in j if r.color is None]
    assert sorted(r.sku for r in unmatched) == ["005"]
    assert unmatched[0].unit_price == 11


def test_right_outer_join(catalog_prices):
    """RIGHT_OUTER_JOIN keeps all of SELF (catalog) — the reference's
    canonical students-without-courses idiom (unit_tests.py:1768-1774)."""
    catalog, prices = catalog_prices
    j = catalog.outer_join(Table.RIGHT_OUTER_JOIN, prices, **{"sku": "sku"})
    assert len(j) == 5
    unmatched = [r for r in j if r.unit_price is None]
    assert sorted(r.sku for r in unmatched) == ["003", "004"]


def test_full_outer_join(catalog_prices):
    catalog, prices = catalog_prices
    j = catalog.outer_join(Table.FULL_OUTER_JOIN, prices, **{"sku": "sku"})
    assert len(j) == 6
    skus = sorted(r.sku for r in j)
    assert skus == ["001", "001", "002", "003", "004", "005"]


def test_join_attrlist_aliases(catalog_prices):
    catalog, prices = catalog_prices
    j = catalog.join(
        prices,
        [(catalog, "sku", "sku"), (catalog, "color", "colour"), (prices, "unit_price", "price")],
        **{"sku": "sku"},
    )
    assert j.fields == ["sku", "colour", "price"]


def test_join_on_dsl_three_tables(spark):
    customers = Table("customers", spark=spark)
    customers.insert_many(
        [{"id": "1", "name": "A"}, {"id": "2", "name": "B"}]
    )
    wishitems = Table("wishitems", spark=spark)
    wishitems.insert_many(
        [
            {"custid": "1", "sku": "X"},
            {"custid": "1", "sku": "Y"},
            {"custid": "2", "sku": "X"},
        ]
    )
    cat = Table("cat", spark=spark)
    cat.insert_many([{"sku": "X", "descr": "x-thing"}, {"sku": "Y", "descr": "y-thing"}])
    joined = (customers.join_on("id") + wishitems.join_on("custid") + cat.join_on("sku"))()
    assert len(joined) == 3
    a_items = sorted(r.descr for r in joined if r.name == "A")
    assert a_items == ["x-thing", "y-thing"]


def test_join_plus_bare_table_adopts_attr(spark):
    t1 = Table("t1", spark=spark)
    t1.insert_many([{"k": 1, "v": "a"}])
    t2 = Table("t2", spark=spark)
    t2.insert_many([{"k": 1, "w": "b"}])
    joined = (t1.join_on("k") + t2)()
    assert len(joined) == 1 and joined[0].w == "b"


def _renamed(t, mapping):
    # every column renamed, hidden order columns included unchanged
    return Table.from_df(
        t._require_df().toDF(*[mapping.get(c, c) for c in t._require_df().columns]),
        name=t.table_name,
    )


def _rows(t):
    return sorted(
        (tuple(r)[: len(t.fields)] for r in t._require_df().collect()),
        key=lambda r: tuple("" if v is None else str(v) for v in r),
    )


def test_join_awkward_column_names_match_plain_names(catalog_prices):
    """Left and right column names that hold backticks or spaces, or
    start with the right-side rename prefix (in either case), join to
    exactly the rows of the plain-name join, for every join kind and for
    an explicit attrlist."""
    catalog, prices = catalog_prices
    lmap = {
        "sku": "s`ku", "color": "__r__color", "size": "__R__size",
        "material": "my material",
    }
    rmap = {"sku": "s`ku", "unit_price": "__r__unit price", "size": "__R__size"}
    awk_c, awk_p = _renamed(catalog, lmap), _renamed(prices, rmap)
    for how in ("inner", "left_outer", "right_outer", "full_outer"):
        plain = catalog.outer_join(how, prices, **{"sku": "sku"})
        awk = awk_c.outer_join(how, awk_p, **{"s`ku": "s`ku"})
        assert awk.fields == [{**lmap, **rmap}[f] for f in plain.fields], how
        assert _rows(awk) == _rows(plain), how
    plain = catalog.join(
        prices, [(catalog, "color", "c"), (prices, "size", "sz")], sku="sku"
    )
    awk = awk_c.join(
        awk_p,
        [(awk_c, "__r__color", "c"), (awk_p, "__R__size", "sz")],
        **{"s`ku": "s`ku"},
    )
    assert awk.fields == ["c", "sz"]
    assert _rows(awk) == _rows(plain)


def test_semi_anti(catalog_prices):
    catalog, prices = catalog_prices
    assert sorted(r.sku for r in catalog.semi_join(prices, "sku")) == ["001", "002"]
    assert sorted(r.sku for r in catalog.anti_join(prices, "sku")) == ["003", "004"]


def test_empty_side_join(abc, spark):
    empty = Table("empty", spark=spark)
    empty.insert_many([{"a": 99}])
    empty.delete(a=99)
    j = abc.join(empty, **{"a": "a"})
    assert len(j) == 0


def _asof_case(spark):
    left = Table("trades", spark=spark)
    left.insert_many(
        [
            {"sym": "a", "t": 1.0, "px": 10.0},
            {"sym": "a", "t": 5.0, "px": 11.0},
            {"sym": "a", "t": 9.0, "px": 12.0},
            {"sym": "b", "t": 2.0, "px": 20.0},
        ]
    )
    right = Table("quotes", spark=spark)
    right.insert_many(
        [
            {"s": "a", "qt": 1.0, "bid": 9.5},
            {"s": "a", "qt": 4.0, "bid": 10.5},
            {"s": "b", "qt": 3.0, "bid": 19.5},
        ]
    )
    return left, right


def test_asof_join_matches_pandas_merge_asof(spark):
    """Differential vs pandas.merge_asof across direction, tolerance,
    and allow_exact_matches."""
    import pandas as pd

    from littletable_spark.operators.joins import asof_join

    left, right = _asof_case(spark)
    lpd = pd.DataFrame(
        [(r.sym, r.t, r.px) for r in left], columns=["sym", "t", "px"]
    ).sort_values("t", kind="stable").reset_index(drop=True)
    rpd = pd.DataFrame(
        [(r.s, r.qt, r.bid) for r in right], columns=["s", "qt", "bid"]
    ).sort_values("qt", kind="stable").reset_index(drop=True)

    for direction in ("backward", "forward"):
        for tol in (None, 2.0, 0.5):
            for exact in (True, False):
                got = asof_join(
                    left, right, "t", "qt", by={"sym": "s"},
                    direction=direction, right_cols=["bid"],
                    tolerance=tol, allow_exact_matches=exact,
                )
                got_rows = sorted(
                    (r.sym, r.t, r.px, r.bid) for r in got
                )
                exp = pd.merge_asof(
                    lpd, rpd, left_on="t", right_on="qt",
                    left_by="sym", right_by="s", direction=direction,
                    tolerance=tol, allow_exact_matches=exact,
                )
                exp_rows = sorted(
                    (row.sym, row.t, row.px,
                     None if pd.isna(row.bid) else row.bid)
                    for row in exp.itertuples()
                )
                assert got_rows == exp_rows, (direction, tol, exact)


def test_asof_join_tied_right_timestamps_match_pandas(spark):
    """Duplicate (by, time) right rows: the fill must pick pandas
    merge_asof's tie winner (backward -> LAST tied right row in table
    order, forward -> FIRST), deterministically — not whichever row the
    engine happened to sort last (total-order discipline)."""
    import pandas as pd

    from littletable_spark.operators.joins import asof_join

    left = Table("trades", spark=spark)
    left.insert_many(
        [
            {"sym": "a", "t": 5.0, "px": 10.0},
            {"sym": "a", "t": 3.0, "px": 11.0},
            {"sym": "b", "t": 4.0, "px": 20.0},
        ]
    )
    right = Table("quotes", spark=spark)
    right.insert_many(
        [
            {"s": "a", "qt": 3.0, "bid": 1.0},
            {"s": "a", "qt": 3.0, "bid": 2.0},
            {"s": "a", "qt": 3.0, "bid": 3.0},
            {"s": "b", "qt": 4.0, "bid": 7.0},
            {"s": "b", "qt": 4.0, "bid": 8.0},
        ]
    )
    lpd = pd.DataFrame(
        [(r.sym, r.t, r.px) for r in left], columns=["sym", "t", "px"]
    ).sort_values("t", kind="stable").reset_index(drop=True)
    rpd = pd.DataFrame(
        [(r.s, r.qt, r.bid) for r in right], columns=["s", "qt", "bid"]
    ).sort_values("qt", kind="stable").reset_index(drop=True)

    for direction in ("backward", "forward"):
        for exact in (True, False):
            got = asof_join(
                left, right, "t", "qt", by={"sym": "s"},
                direction=direction, right_cols=["bid"],
                allow_exact_matches=exact,
            )
            got_rows = sorted((r.sym, r.t, r.px, r.bid) for r in got)
            exp = pd.merge_asof(
                lpd, rpd, left_on="t", right_on="qt",
                left_by="sym", right_by="s", direction=direction,
                allow_exact_matches=exact,
            )
            exp_rows = sorted(
                (row.sym, row.t, row.px,
                 None if pd.isna(row.bid) else row.bid)
                for row in exp.itertuples()
            )
            assert got_rows == exp_rows, (direction, exact)


def test_range_join_bucketed_matches_plain(spark):
    """Bucketed rewrite returns exactly the plain theta-join result, and
    compiles to a hash join instead of a nested loop."""
    from littletable_spark.operators.joins import range_join

    pts = Table("pts", spark=spark)
    pts.insert_many([{"pid": i, "x": float(i)} for i in range(30)])
    iv = Table("iv", spark=spark)
    iv.insert_many(
        [
            {"band": "low", "lo": 0.0, "hi": 9.0},
            {"band": "mid", "lo": 9.0, "hi": 21.0},
            {"band": "high", "lo": 20.0, "hi": 29.0},
            {"band": "nothing", "lo": 100.0, "hi": 200.0},
        ]
    )
    plain = range_join(pts, iv, "x", "lo", "hi")
    bucketed = range_join(pts, iv, "x", "lo", "hi", bucket_width=5.0)
    p = sorted((r.pid, r.band) for r in plain)
    b = sorted((r.pid, r.band) for r in bucketed)
    assert p == b
    # boundary membership: 9.0 is in both 'low' and 'mid' (inclusive)
    assert (9, "low") in b and (9, "mid") in b
    # exclusive bounds drop the boundaries
    ex = range_join(
        pts, iv, "x", "lo", "hi", bucket_width=5.0,
        lo_inclusive=False, hi_inclusive=False,
    )
    exr = sorted((r.pid, r.band) for r in ex)
    assert (9, "low") not in exr and (9, "mid") not in exr and (8, "low") in exr

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bucketed.df.explain()
    assert "NestedLoop" not in buf.getvalue() and "Cartesian" not in buf.getvalue()


def test_range_join_by_keys(spark):
    from littletable_spark.operators.joins import range_join

    pts = Table("pts2", spark=spark)
    pts.insert_many(
        [{"g": "a", "x": 5.0}, {"g": "b", "x": 5.0}, {"g": "a", "x": 50.0}]
    )
    iv = Table("iv2", spark=spark)
    iv.insert_many(
        [{"grp": "a", "lo": 0.0, "hi": 10.0}, {"grp": "b", "lo": 100.0, "hi": 200.0}]
    )
    out = range_join(pts, iv, "x", "lo", "hi", by={"g": "grp"}, bucket_width=10.0)
    assert sorted((r.g, r.x) for r in out) == [("a", 5.0)]
