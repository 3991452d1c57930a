"""memo(owner, key, build): values live on the object they describe.

Covers owner isolation, stored-None hits, concurrent first callers, a
rewritten table refreshing its scan handles, and guards that keep
module-level cache dicts and ad-hoc `_s2_*` attributes from coming
back."""

import ast
import pathlib
import sys
import threading

import pandas as pd
import pytest

import s2geo_spark
from s2geo_spark import contract
from s2geo_spark.memo import memo


class _Owner:
    pass


def test_entries_belong_to_their_owner():
    a, b = _Owner(), _Owner()
    assert memo(a, "k", lambda: 1) == 1
    assert memo(b, "k", lambda: 2) == 2
    assert memo(a, "k", lambda: 3) == 1

    calls = []

    def build_none():
        calls.append(1)

    assert memo(a, "none", build_none) is None
    assert memo(a, "none", build_none) is None
    assert calls == [1]  # a stored None is a hit
    assert "none" not in vars(b)["_s2_memo"]


def test_owner_without_dict_builds_every_time():
    calls = []
    for _ in range(2):
        assert memo(None, "k", lambda: calls.append(1) or 5) == 5
    assert calls == [1, 1]


def test_build_runs_outside_the_lock():
    # two builds on one owner wait for each other: a lock held across
    # build() would deadlock them
    owner = _Owner()
    started = {k: threading.Event() for k in ("a", "b")}

    def build(me, other):
        started[me].set()
        assert started[other].wait(10)
        return me

    threads = [
        threading.Thread(target=memo, args=(owner, k, lambda k=k, o=o: build(k, o)))
        for k, o in (("a", "b"), ("b", "a"))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(20)
        assert not t.is_alive()
    assert vars(owner)["_s2_memo"] == {"a": "a", "b": "b"}


def test_threads_share_one_value_per_key():
    owner = _Owner()
    n = 16
    got = [None] * n
    errors = []
    barrier = threading.Barrier(n)

    def work(i):
        try:
            barrier.wait(10)
            for r in range(200):
                assert memo(owner, ("own", i, r), lambda: (i, r)) == (i, r)
                shared = memo(owner, "shared", object)
                if got[i] is None:
                    got[i] = shared
                assert shared is got[i]
        except BaseException as ex:  # noqa: BLE001 - reported below
            errors.append(ex)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    store = vars(owner)["_s2_memo"]
    assert all(("own", i, r) in store for i in range(n) for r in range(200))
    assert len({id(g) for g in got}) == 1 and got[0] is store["shared"]


def test_rewritten_table_gets_fresh_scan_handles(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = tmp_path / "t.parquet"
    pd.DataFrame({"k": [1, 2, 3]}).to_parquet(path)

    def rows(df):
        return sorted(r["k"] for r in df.collect())

    first, first_w = contract._t(spark, sf_dir, "t"), contract._tw(spark, sf_dir, "t")
    assert rows(first) == rows(first_w) == [1, 2, 3]
    assert contract._t(spark, sf_dir, "t") is first  # unchanged file: a hit
    store = vars(spark.sparkContext)["_s2_memo"]
    n_entries = len(store)

    pd.DataFrame({"k": [7, 8]}).to_parquet(path)
    assert rows(contract._t(spark, sf_dir, "t")) == [7, 8]
    assert rows(contract._tw(spark, sf_dir, "t")) == [7, 8]
    # the rewritten file replaced its entry instead of adding one beside it
    assert len(store) == n_entries


def _cache_bindings(tree):
    """Module-level names ending in _CACHE/_SESSIONS bound to a dict/set."""
    mutable = (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)
    factories = {"dict", "set", "defaultdict", "OrderedDict"}
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        call = value.func if isinstance(value, ast.Call) else None
        name = getattr(call, "id", getattr(call, "attr", None))
        if not (isinstance(value, mutable) or name in factories):
            continue
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith(("_CACHE", "_SESSIONS")):
                yield t.id


@pytest.mark.parametrize(
    "src", ["X_CACHE = {}", "X_CACHE: dict = {}", "X_SESSIONS: set[int] = set()",
            "X_CACHE = collections.defaultdict(list)"],
)
def test_guard_catches_cache_dicts(src):
    assert list(_cache_bindings(ast.parse(src))) != []


def test_no_module_level_cache_dicts():
    pkg = pathlib.Path(s2geo_spark.__file__).parent
    found = [
        f"{path.relative_to(pkg)}:{name}"
        for path in sorted(pkg.rglob("*.py"))
        for name in _cache_bindings(ast.parse(path.read_text()))
    ]
    assert found == [], "session state belongs on its owner via memo(): " + ", ".join(found)


def _s2_attr_writes(tree):
    """`_s2_*` attribute names the code assigns: `x._s2_a = v` (also in
    tuple targets and augmented or annotated assignments) and
    `setattr(x, "_s2_a", v)`."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            in ("setattr", "__setattr__")
            and len(node.args) > 1
            and isinstance(node.args[1], ast.Constant)
            and str(node.args[1].value).startswith("_s2_")
        ):
            yield node.args[1].value
            continue
        else:
            continue
        for sub in (n for t in targets for n in ast.walk(t)):
            if isinstance(sub, ast.Attribute) and sub.attr.startswith("_s2_"):
                yield sub.attr


@pytest.mark.parametrize(
    "src", ["df._s2_rows = rows", "a, df._s2_rows = 1, rows", "df._s2_n += 1",
            "setattr(df, '_s2_rows', rows)", "object.__setattr__(df, '_s2_rows', r)"],
)
def test_guard_catches_s2_attributes(src):
    assert list(_s2_attr_writes(ast.parse(src))) != []


def test_no_s2_attributes_outside_memo():
    """What the package knows about an object lives in memo()'s one
    store, never in a side-channel attribute another function probes."""
    pkg = pathlib.Path(s2geo_spark.__file__).parent
    found = [
        f"{path.relative_to(pkg)}:{name}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "memo.py"
        for name in _s2_attr_writes(ast.parse(path.read_text()))
    ]
    assert found == [], "store object metadata via memo(): " + ", ".join(found)
