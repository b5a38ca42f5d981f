"""dbt-equivalent pipeline: sources -> staging views -> mart tables, with the
reference's 68 declarative data tests (SURVEY.md §5) all green."""

import tempfile

import pytest

from dbt_trill_shop_spark.core.model import resolve_schema
from dbt_trill_shop_spark.fixtures import register_trends_sources
from dbt_trill_shop_spark.models import trends_project


@pytest.fixture(scope="module")
def built_project(spark, sf_dir):
    p = trends_project(target="dev", warehouse_dir=tempfile.mkdtemp(prefix="trillshop_wh_"))
    p.add_sources(register_trends_sources(spark, sf_dir))
    results = p.build(spark, run_tests=True)
    yield p, results
    p.drop_warehouse()


def test_all_models_built(built_project):
    p, _ = built_project
    for name in (
        "stg_top_terms",
        "stg_top_rising_terms",
        "stg_international_top_terms",
        "stg_international_top_rising_terms",
        "weekly_trends_summary",
        "top_terms_comparison",
        "trending_terms_analysis",
    ):
        assert p.relations[name].count() > 0, name


def test_all_declarative_tests_pass(built_project):
    _, results = built_project
    n_tests = sum(len(v) for v in results.values())
    assert n_tests >= 68, f"expected the full 68-test suite, got {n_tests}"
    failures = [r for v in results.values() for r in v if not r.passed]
    assert not failures, [f"{r.model}:{r.test} sample={r.sample}" for r in failures]


def test_mart_is_table_backed(built_project):
    p, _ = built_project
    # TABLE materialization writes parquet under the warehouse dir
    import os

    path = os.path.join(p.warehouse_dir, "analytics", "weekly_trends_summary")
    assert os.path.isdir(path)


def test_schema_routing():
    # semantics of macros/generate_schema_name.sql:5-21
    assert resolve_schema("raw", "seed", "dev", "analytics") == "raw"
    assert resolve_schema(None, "model", "dev", "analytics") == "analytics"
    assert resolve_schema("marts", "model", "prod", "analytics") == "analytics_marts"
    assert resolve_schema("marts", "model", "dev", "analytics") == "analytics"


def test_view_models_inline_into_consumers(spark, sf_dir):
    """Staging views must be logical plans (Catalyst inlines them), so the
    mart's physical plan reads the base parquet directly."""
    from dbt_trill_shop_spark.models.trends import build_trends_relations

    rel = build_trends_relations(spark, sf_dir)
    plan = rel["weekly_trends_summary"]._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan


def test_manifest_artifact(built_project):
    """dbt-manifest equivalent: full node graph with deps, materializations,
    routed schemas, and test inventory, in a valid topological order."""
    p, _ = built_project
    m = p.manifest()
    assert m["project"] and m["target"] == "dev"
    assert len(m["nodes"]) == 7
    order = m["execution_order"]
    for name, node in m["nodes"].items():
        for dep in node["deps"]:
            if dep in m["nodes"]:
                assert order.index(dep) < order.index(name)
    assert m["nodes"]["weekly_trends_summary"]["materialization"] == "table"
    assert m["nodes"]["stg_top_terms"]["materialization"] == "view"
    # 68 declarative tests total (SURVEY.md §5)
    assert sum(len(n["tests"]) for n in m["nodes"].values()) == 68


def test_catalog_artifact(built_project, tmp_path):
    """dbt docs generate's catalog.json: per built relation, materialized
    column types + one-pass profile stats (rows, non-null, approx distinct,
    min/max) — cross-checked against directly computed values."""
    import json

    p, _ = built_project
    p.write_artifacts(str(tmp_path), with_catalog=True)
    cat = json.load(open(tmp_path / "catalog.json"))
    assert set(cat["nodes"]) == set(p.manifest()["nodes"])
    wts = cat["nodes"]["weekly_trends_summary"]
    df = p.ref("weekly_trends_summary")
    assert wts["stats"]["row_count"] == df.count()
    week = wts["columns"]["week"]
    assert week["type"] == "date"
    lo, hi = df.selectExpr("min(week)", "max(week)").first()
    assert week["stats"]["min"] == str(lo) and week["stats"]["max"] == str(hi)
    assert week["stats"]["non_null"] == wts["stats"]["row_count"]
    # HLL estimate within its documented error of the exact distinct count
    exact = df.select("week").distinct().count()
    assert abs(week["stats"]["approx_distinct"] - exact) <= max(2, 0.1 * exact)
    # column index order mirrors the materialized schema
    assert [c for c, _ in sorted(wts["columns"].items(), key=lambda kv: kv[1]["index"])] == df.columns


def test_docs_site(built_project, tmp_path):
    """dbt docs generate -> serve: the target/ JSON artifacts render into one
    self-contained index.html — every model and source gets a section with
    columns/types/tests, lineage links both directions, and last-run status."""
    p, results = built_project
    p.write_artifacts(str(tmp_path), results, with_catalog=True, with_docs_site=True)
    html_text = (tmp_path / "index.html").read_text()
    # self-contained: no external scripts/stylesheets to fetch
    assert "<script" not in html_text and "http" not in html_text.split("</style>")[1]
    for name in p.manifest()["nodes"]:
        assert f'id="node-{name}"' in html_text, name
    # sources render too, and lineage links point at downstream models
    assert 'id="node-top_terms"' in html_text
    assert 'href="#node-stg_top_terms"' in html_text
    # catalog types + run statuses made it into the page
    assert "<td>date</td>" in html_text
    assert 'class="status-success"' in html_text
    # declarative tests render as per-column badges
    assert 'class="test"' in html_text


def test_sql_text_models_match_dataframe_models(spark, sf_dir):
    """Author the reference's stg_top_terms + a mart slice as dbt-style SQL
    text (ref/source/macro Jinja) and build through the Project DAG; results
    must match the DataFrame-API implementations row-for-row."""
    import tempfile

    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.core import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model
    from dbt_trill_shop_spark.models.trends import build_trends_relations

    p = Project("sqltext", warehouse_dir=tempfile.mkdtemp(prefix="trillshop_sqlwh_"))
    p.add_sources(register_trends_sources(spark, sf_dir))

    # mirrors models/staging/stg_top_terms.sql (projection w/ grouped order)
    p.add_model(sql_model(
        "stg_top_terms_sql",
        """
        {{ config(materialized='view') }}
        SELECT dma_id, dma_name, term, refresh_date, week, score, rank
        FROM {{ source('ecom', 'top_terms') }}
        """,
    ))
    # a mart slice exercising ref() + the cents_to_dollars macro
    p.add_model(sql_model(
        "top_rank_dollars",
        """
        SELECT term, week, rank,
               {{ cents_to_dollars('score') }} AS score_dollars
        FROM {{ ref('stg_top_terms_sql') }}
        WHERE rank <= 5
        """,
    ))
    assert p.models["top_rank_dollars"].deps == ("stg_top_terms_sql",)
    p.build(spark, run_tests=False)

    rel = build_trends_relations(spark, sf_dir)
    expect_stg = rel["stg_top_terms"]
    got_stg = p.relations["stg_top_terms_sql"]
    assert got_stg.columns == expect_stg.columns
    assert sorted(map(tuple, got_stg.collect())) == sorted(map(tuple, expect_stg.collect()))

    got = {tuple(r) for r in p.relations["top_rank_dollars"].collect()}
    expect = {
        tuple(r)
        for r in expect_stg.filter(F.col("rank") <= 5)
        .select("term", "week", "rank", F.round(F.col("score") / 100, 2).alias("score_dollars"))
        .collect()
    }
    assert got == expect


def test_extract_deps_ignores_statement_blocks():
    """A ref() lexically inside a {% %} statement tag is stripped by
    compile_model_sql, so extract_deps must not register it as a DAG edge
    (content BETWEEN block tags stays in the compiled SQL — those refs are
    genuine deps and must still be found)."""
    from dbt_trill_shop_spark.core.jinja_lite import extract_deps

    sql = """
    {% set note = "see {{ ref('phantom_model') }}" %}
    {# comment mentioning {{ ref('commented_model') }} #}
    SELECT * FROM {{ ref('real_model') }}
    JOIN {{ source('ecom', 'top_terms') }} USING (term)
    {% if true %} LEFT JOIN {{ ref('branch_model') }} USING (term) {% endif %}
    """
    assert extract_deps(sql) == ("real_model", "branch_model", "top_terms")


def test_sql_file_models_match_dataframe_twins(spark, sf_dir):
    """All 7 models/sql/*.sql files (dbt directory convention) build through
    the Project DAG and reproduce the independently-implemented DataFrame-API
    builders exactly — staging and marts.  The in-file config must route
    staging->view, marts->table."""
    import tempfile

    from dbt_trill_shop_spark.core import Materialization, Project
    from dbt_trill_shop_spark.core.jinja_lite import load_sql_models
    from dbt_trill_shop_spark.models import trends as T

    p = Project("sqlfiles", warehouse_dir=tempfile.mkdtemp(prefix="trillshop_sqlfwh_"))
    p.add_sources(register_trends_sources(spark, sf_dir))
    models = load_sql_models(T.sql_models_dir())
    assert len(models) == 7
    mats = {m.name: m.materialization for m in models}
    assert mats["stg_top_terms"] == Materialization.VIEW
    assert mats["weekly_trends_summary"] == Materialization.TABLE
    assert {m.name: m.schema for m in models}["top_terms_comparison"] == "marts"
    for m in models:
        p.add_model(m)
    p.build(spark, run_tests=False)

    # independent twins: DataFrame-API staging + mart builders over the raw
    # sources (no SQL-file code path involved)
    rel = dict(register_trends_sources(spark, sf_dir))
    ref = rel.__getitem__
    for stg in T._STG_COLS:
        rel[stg] = T._staging_builder(stg)(spark, ref)
    rel["weekly_trends_summary"] = T.weekly_trends_summary(spark, ref)
    rel["top_terms_comparison"] = T.top_terms_comparison(spark, ref)
    rel["trending_terms_analysis"] = T.trending_terms_analysis(spark, ref)

    for m in models:
        expect = rel[m.name]
        got = p.relations[m.name]
        assert got.columns == expect.columns, m.name
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect())), m.name


def test_graph_selectors(spark, sf_dir):
    """dbt --select syntax: +model pulls ancestors, model+ pulls descendants;
    building the subset materializes exactly those nodes."""
    import tempfile

    p = trends_project(target="dev", warehouse_dir=tempfile.mkdtemp(prefix="trillshop_sel_"))
    p.add_sources(register_trends_sources(spark, sf_dir))

    up = p.select("+weekly_trends_summary")
    assert up == {
        "weekly_trends_summary",
        "stg_top_terms",
        "stg_top_rising_terms",
        "stg_international_top_terms",
        "stg_international_top_rising_terms",
    }
    down = p.select("stg_top_terms+")
    assert "stg_top_terms" in down and "weekly_trends_summary" in down
    assert "stg_international_top_terms" not in down

    p.build(spark, run_tests=False, subset=up)
    assert set(p.relations) >= up | set(p.sources)
    assert "top_terms_comparison" not in p.relations


def test_exposures_in_manifest(spark, sf_dir):
    import tempfile

    p = trends_project(target="dev", warehouse_dir=tempfile.mkdtemp(prefix="trillshop_exp_"))
    p.add_sources(register_trends_sources(spark, sf_dir))
    p.add_exposure(
        "trends_dashboard",
        depends_on=("weekly_trends_summary", "top_terms_comparison"),
        owner="analytics",
        url="https://example.invalid/dash",
    )
    try:
        p.add_exposure("bad", depends_on=("nope",))
        raise AssertionError("expected KeyError for unknown dep")
    except KeyError:
        pass
    m = p.manifest()
    assert m["exposures"]["trends_dashboard"]["depends_on"] == [
        "weekly_trends_summary",
        "top_terms_comparison",
    ]


def test_doc_blocks_resolve_into_manifest(built_project):
    """{% docs %} parsing + property-YAML column metadata: every model and
    source in the manifest carries resolved (non-Jinja) descriptions, like
    dbt's parse-time doc() resolution (reference __sources.yml:6 +
    google_trends_docs.md)."""
    p, _ = built_project
    m = p.manifest()
    for name, node in m["nodes"].items():
        assert node["description"], name
        assert "{{" not in node["description"], name
        assert node["columns"], name
        for col, desc in node["columns"].items():
            assert desc and "{{" not in desc, (name, col)
    # all four raw sources documented, column-level included
    assert set(m["sources"]) == {
        "top_terms", "top_rising_terms",
        "international_top_terms", "international_top_rising_terms",
    }
    assert "dma_id" in m["sources"]["top_terms"]["columns"]
    assert "percent_gain" in m["sources"]["international_top_rising_terms"]["columns"]
    assert m["sources"]["top_terms"]["description"]
    # marts document their derived columns
    assert "growth_category" in m["nodes"]["trending_terms_analysis"]["columns"]


def test_yaml_tests_match_python_twin():
    """models/properties.yml test declarations must agree test-for-test with
    the independently-transcribed Python suite (_model_tests) — two readings
    of the reference YAMLs (SURVEY.md §5)."""
    from dbt_trill_shop_spark.models.trends import _model_tests, load_trends_properties

    props = load_trends_properties()
    twin = _model_tests()
    assert set(props["models"]) == set(twin)
    for name, expected in twin.items():
        got = sorted(t.describe() for t in props["models"][name]["tests"])
        want = sorted(t.describe() for t in expected)
        assert got == want, name
    total = sum(len(m["tests"]) for m in props["models"].values())
    assert total == 68


def test_unknown_doc_ref_raises():
    from dbt_trill_shop_spark.core.docs import resolve_doc_refs

    try:
        resolve_doc_refs('{{ doc("no_such_block") }}', {})
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_severity_and_thresholds(spark):
    """dbt test config: severity=warn never errors; warn_if/error_if are
    count thresholds; store_failures persists violating rows."""
    import tempfile

    from pyspark.sql import Row

    from dbt_trill_shop_spark.core.testing import (
        AcceptedRange,
        AcceptedValues,
        ConfiguredTest,
        Finite,
        NotNull,
        Relationships,
        TestConfig,
        Unique,
        run_model_tests,
    )

    df = spark.createDataFrame(
        [Row(a=1), Row(a=None), Row(a=None), Row(a=3)]
    )  # 2 violations of not_null(a)

    # default config -> error status
    [r] = run_model_tests(df, [NotNull("a")], "m")
    assert r.status == "error" and not r.passed

    # severity=warn -> warn status, still "passed" (dbt: warn is a pass)
    [r] = run_model_tests(
        df, [ConfiguredTest(NotNull("a"), TestConfig(severity="warn"))], "m"
    )
    assert r.status == "warn" and r.passed and r.failures == 2

    # error_if '>5' not met, warn_if '>0' met -> warn
    [r] = run_model_tests(
        df,
        [ConfiguredTest(NotNull("a"), TestConfig(error_if=">5", warn_if=">0"))],
        "m",
    )
    assert r.status == "warn" and r.failures == 2

    # thresholds that tolerate the count -> pass
    [r] = run_model_tests(
        df,
        [ConfiguredTest(NotNull("a"), TestConfig(error_if=">5", warn_if=">2"))],
        "m",
    )
    assert r.status == "pass" and r.passed

    # store_failures writes the violating rows for audit
    d = tempfile.mkdtemp(prefix="tf_")
    [r] = run_model_tests(
        df,
        [ConfiguredTest(NotNull("a"), TestConfig(severity="warn", store_failures=True))],
        "m",
        store_dir=d,
    )
    import os

    stored = [x for x in os.listdir(d) if x.startswith("m__")]
    assert len(stored) == 1
    assert spark.read.parquet(os.path.join(d, stored[0])).count() == 2

    # the fused count_if pass agrees with each test's own violations()
    # count on NULLs, NaN, +-inf and values on/beyond both bounds, and a
    # mixed list keeps input order and status routing
    inf, nan = float("inf"), float("nan")
    xs = [None, nan, inf, -inf, -1.0, 0.0, 5.0, 10.0, 11.0, 5.0]
    ss = ["a", None, "b", "z", "a", "", "b", None, "a", "q"]
    frame = spark.createDataFrame(
        [Row(k=i % 8, x=x, s=v) for i, (x, v) in enumerate(zip(xs, ss))],
        "k bigint, x double, s string",
    )
    parent = spark.createDataFrame([Row(id=i) for i in range(6)], "id bigint")
    mixed = [
        NotNull("x"),
        NotNull("k"),
        Unique("k"),
        AcceptedValues("s", ("a", "b")),
        AcceptedRange("x", 0.0, 10.0),
        Relationships("k", to=parent, to_column="id"),
        AcceptedRange("x", 0.0, 10.0, inclusive=False),
        AcceptedRange("x", min_value=0.0),
        AcceptedRange("x", max_value=10.0, inclusive=False),
        Finite("x"),
        ConfiguredTest(AcceptedValues("s", ("a", "b", "")), TestConfig(severity="warn")),
        ConfiguredTest(Finite("x"), TestConfig(error_if=">5", warn_if=">2")),
    ]
    got = run_model_tests(frame, mixed, "m")
    assert [r.test for r in got] == [t.describe() for t in mixed]
    want = [t.violations(frame).count() for t in mixed]
    assert [r.failures for r in got] == want
    # hand-counted: NaN sorts above every double, so it breaks max bounds
    assert want == [1, 0, 2, 3, 5, 2, 7, 2, 4, 3, 2, 3]
    assert [r.status for r in got] == [
        "error", "pass", "error", "error", "error", "error",
        "error", "error", "error", "error", "warn", "warn",
    ]
    for r, t in zip(got, mixed):
        assert r.passed == (r.status != "error")
        assert (r.sample is None) == (r.status == "pass")
        assert r.sample is None or len(r.sample) == min(5, t.violations(frame).count())


def test_row_level_tests_share_one_job(spark):
    """All of a model's row-level tests cost the jobs of one: 7 tests on a
    frame issue exactly as many Spark jobs as 1 (compared, not pinned —
    AQE runs each query stage as its own job)."""
    import uuid

    from dbt_trill_shop_spark.core.testing import (
        AcceptedRange,
        AcceptedValues,
        ConfiguredTest,
        Finite,
        NotNull,
        TestConfig,
        run_model_tests,
    )

    # nullable columns, so no predicate folds away to an empty plan
    df = spark.range(1000).selectExpr("IF(id = -1, NULL, id) AS id")
    df = df.selectExpr("id", "id % 7 AS m", "CAST(id AS DOUBLE) AS x")
    seven = [
        NotNull("id"),
        NotNull("m"),
        AcceptedValues("m", tuple(range(7))),
        AcceptedRange("x", 0.0, 999.0),
        AcceptedRange("m", -1, 7, inclusive=False),
        Finite("x"),
        ConfiguredTest(NotNull("x"), TestConfig(severity="warn")),
    ]
    sc = spark.sparkContext

    def jobs(tests) -> tuple[int, list[int]]:
        gid = f"fused_{uuid.uuid4().hex}"
        sc.setJobGroup(gid, gid)
        try:
            results = run_model_tests(df, tests, "m")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(results) == len(tests)
        return len(sc.statusTracker().getJobIdsForGroup(gid)), [r.failures for r in results]

    one, _ = jobs(seven[:1])
    many, failures = jobs(seven)
    assert one >= 1 and many == one
    assert failures == [0] * 7  # all pass: no sample-collect jobs


def test_build_test_failure_routing(spark, sf_dir):
    """on_test_failure: 'raise' aborts on an error-severity failure,
    'skip_downstream' skips descendants (dbt build), warn never gates."""
    import tempfile

    from dbt_trill_shop_spark.core import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model
    from dbt_trill_shop_spark.core.testing import (
        AcceptedRange,
        ConfiguredTest,
        TestConfig,
    )

    def fresh(on):
        p = Project("sev", warehouse_dir=tempfile.mkdtemp(prefix="sev_"))
        p.add_sources(register_trends_sources(spark, sf_dir))
        parent = sql_model(
            "ranked", "SELECT term, rank FROM {{ source('ecom','top_terms') }}"
        )
        # rank <= 3 fails on real data (ranks go to 25)
        parent.tests = [AcceptedRange("rank", max_value=3)]
        child = sql_model("child", "SELECT COUNT(*) AS n FROM {{ ref('ranked') }}")
        p.add_model(parent)
        p.add_model(child)
        return p

    try:
        fresh("raise").build(spark, on_test_failure="raise")
        raise AssertionError("expected RuntimeError")
    except RuntimeError:
        pass

    p = fresh("skip")
    p.build(spark, on_test_failure="skip_downstream")
    assert "ranked" in p.relations and "child" not in p.relations

    # same violation at warn severity: downstream builds anyway
    p = fresh("warn")
    p.models["ranked"].tests = [
        ConfiguredTest(AcceptedRange("rank", max_value=3), TestConfig(severity="warn"))
    ]
    results = p.build(spark, on_test_failure="skip_downstream")
    assert "child" in p.relations
    assert results["ranked"][0].status == "warn"


def test_finite_test_flags_nan_and_inf(spark):
    """The finite data test flags NaN/±Inf measure values (the up-front
    gate for the int64 micro-unit casts, which under ANSI fail loudly
    mid-job on poisoned doubles) and passes clean or NULL values; it parses
    from schema YAML like any generic test."""
    from dbt_trill_shop_spark.core.docs import _TEST_BUILDERS
    from dbt_trill_shop_spark.core.testing import Finite

    df = spark.createDataFrame(
        [(1, 9.5), (2, float("nan")), (3, float("inf")),
         (4, -float("inf")), (5, None)],
        "id long, price double",
    )
    bad = Finite("price").violations(df).select("id").collect()
    assert sorted(r["id"] for r in bad) == [2, 3, 4]
    assert Finite("price").violations(df.filter("id = 1 OR id = 5")).count() == 0
    built = _TEST_BUILDERS["finite"]("price", {})
    assert built == Finite("price") and "finite(price)" == built.describe()


def test_var_substitution_in_sql_models(spark, sf_dir):
    """{{ var('name', default) }}: project vars flow into SQL-file models;
    in-text defaults apply when the var is unset (dbt --vars)."""
    import tempfile

    from dbt_trill_shop_spark.core import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    sql = (
        "SELECT term, rank FROM {{ source('ecom','top_terms') }} "
        "WHERE rank <= {{ var('max_rank', 5) }}"
    )
    p = Project("vars", warehouse_dir=tempfile.mkdtemp(prefix="v1_"), vars={"max_rank": 2})
    p.add_sources(register_trends_sources(spark, sf_dir))
    p.add_model(sql_model("top_ranked", sql))
    p.build(spark, run_tests=False)
    assert p.relations["top_ranked"].agg({"rank": "max"}).collect()[0][0] == 2

    p2 = Project("vars2", warehouse_dir=tempfile.mkdtemp(prefix="v2_"))
    p2.add_sources(register_trends_sources(spark, sf_dir))
    p2.add_model(sql_model("top_ranked", sql))
    p2.build(spark, run_tests=False)
    assert p2.relations["top_ranked"].agg({"rank": "max"}).collect()[0][0] == 5


def test_model_contract_enforcement(spark, sf_dir):
    """dbt contracts: config contract.enforced + column data_type — a build
    whose schema drifts (wrong type, missing or undeclared column) fails
    before materialization."""
    import tempfile

    from dbt_trill_shop_spark.core import ContractError, Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    def project_with(contract):
        p = Project("contract", warehouse_dir=tempfile.mkdtemp(prefix="ct_"))
        p.add_sources(register_trends_sources(spark, sf_dir))
        m = sql_model(
            "ranked", "SELECT term, rank FROM {{ source('ecom','top_terms') }}"
        )
        m.contract = contract
        p.add_model(m)
        return p

    # matching contract: builds fine
    p = project_with({"term": "string", "rank": "bigint"})
    p.build(spark, run_tests=False)
    assert p.relations["ranked"].count() > 0

    # wrong declared type
    try:
        project_with({"term": "string", "rank": "string"}).build(spark, run_tests=False)
        raise AssertionError("expected ContractError")
    except ContractError as e:
        assert "rank" in str(e)

    # undeclared column in the relation
    try:
        project_with({"term": "string"}).build(spark, run_tests=False)
        raise AssertionError("expected ContractError")
    except ContractError as e:
        assert "undeclared" in str(e)

    # declared column missing from the relation
    try:
        project_with(
            {"term": "string", "rank": "bigint", "ghost": "double"}
        ).build(spark, run_tests=False)
        raise AssertionError("expected ContractError")
    except ContractError as e:
        assert "ghost" in str(e)


def test_contract_parses_from_property_yaml(tmp_path):
    """config: contract: enforced + data_type per column -> Model.contract."""
    from dbt_trill_shop_spark.core.docs import load_properties

    yml = tmp_path / "props.yml"
    yml.write_text(
        """
version: 2
models:
  - name: contracted
    config:
      contract:
        enforced: true
    columns:
      - name: id
        data_type: bigint
      - name: label
        data_type: string
  - name: uncontracted
    columns:
      - name: id
        data_type: bigint
"""
    )
    props = load_properties(str(yml))
    assert props["models"]["contracted"]["contract"] == {"id": "bigint", "label": "string"}
    assert props["models"]["uncontracted"]["contract"] is None


def test_write_artifacts(built_project, tmp_path):
    """dbt target/ artifacts: manifest.json + run_results.json with per-node
    status/timing and per-test statuses."""
    import json
    import os

    p, results = built_project
    d = str(tmp_path / "target")
    p.write_artifacts(d, results)
    with open(os.path.join(d, "manifest.json")) as fh:
        m = json.load(fh)
    assert len(m["nodes"]) == 7 and m["project"]
    with open(os.path.join(d, "run_results.json")) as fh:
        rr = json.load(fh)["results"]
    model_entries = [e for e in rr if e["unique_id"].startswith("model.")]
    test_entries = [e for e in rr if e["unique_id"].startswith("test.")]
    assert len(model_entries) == 7
    assert all(e["status"] == "success" for e in model_entries)
    assert all(e["execution_time"] >= 0 for e in model_entries)
    assert all(e["test_execution_time"] >= 0 for e in model_entries)
    assert len(test_entries) == 68
    assert all(e["status"] == "pass" for e in test_entries)
    assert all(e["failures"] == 0 for e in test_entries)


def test_source_freshness(spark, sf_dir):
    """dbt source freshness: max(loaded_at_field) age vs warn_after /
    error_after thresholds (declared in properties.yml, injected 'now')."""
    import datetime

    from dbt_trill_shop_spark.core import check_freshness
    from dbt_trill_shop_spark.models.trends import load_trends_properties

    props = load_trends_properties()
    pol = props["sources"]["top_terms"]["freshness"]
    assert pol is not None and pol.loaded_at_field == "refresh_date"
    assert pol.warn_after == (30, "day") and pol.error_after == (90, "day")

    df = register_trends_sources(spark, sf_dir)["top_terms"]
    from pyspark.sql import functions as F

    max_rd = df.agg(F.max("refresh_date")).collect()[0][0]
    base = datetime.datetime.combine(max_rd, datetime.time())

    fresh = check_freshness(df, pol.loaded_at_field, pol, base + datetime.timedelta(days=1))
    assert fresh["status"] == "pass"
    warn = check_freshness(df, pol.loaded_at_field, pol, base + datetime.timedelta(days=40))
    assert warn["status"] == "warn"
    stale = check_freshness(df, pol.loaded_at_field, pol, base + datetime.timedelta(days=100))
    assert stale["status"] == "error"
    empty = check_freshness(
        df.filter("1=0"), pol.loaded_at_field, pol, base
    )
    assert empty["status"] == "error"


def test_unit_tests_from_yaml(spark):
    """dbt 1.8 unit tests: the YAML-declared fixture test builds the real
    SQL-file model over inline rows and matches the expected output; a
    corrupted expectation must fail."""
    from dbt_trill_shop_spark.core import run_unit_test
    from dbt_trill_shop_spark.core.jinja_lite import load_sql_models
    from dbt_trill_shop_spark.models.trends import load_trends_properties, sql_models_dir

    props = load_trends_properties()
    uts = props["unit_tests"]
    assert len(uts) >= 1
    models = {m.name: m for m in load_sql_models(sql_models_dir())}
    for ut in uts:
        res = run_unit_test(spark, models[ut.model], ut)
        assert res.passed, f"{ut.name}: {res.diff}"

    # negative control: corrupt one expected bucket
    bad = uts[0]
    bad.expect[0]["rank_category"] = "Top 5"
    res = run_unit_test(spark, models[bad.model], bad)
    assert not res.passed and res.diff


def test_unit_test_null_mixed_column(spark):
    """A compared column mixing NULL and non-NULL across rows (the
    top_terms_comparison US-branch shape) must compare cleanly, not raise
    TypeError from ordering None against str."""
    from dbt_trill_shop_spark.core import run_unit_test
    from dbt_trill_shop_spark.core.model import Model
    from dbt_trill_shop_spark.core.quality import UnitTest

    model = Model(
        name="passthrough",
        builder=lambda spark_, resolve: resolve("src"),
        deps=("src",),
    )
    rows = [
        {"term": "a", "region_name": None},
        {"term": "b", "region_name": "Texas"},
    ]
    ut = UnitTest(
        name="null_mix", model="passthrough", given={"src": rows}, expect=rows
    )
    assert run_unit_test(spark, model, ut).passed
    ut_bad = UnitTest(
        name="null_mix_bad",
        model="passthrough",
        given={"src": rows},
        expect=[rows[0], {"term": "b", "region_name": "Ohio"}],
    )
    res = run_unit_test(spark, model, ut_bad)
    assert not res.passed and res.diff


def test_unit_test_empty_fixture_contract(spark):
    """A zero-row fixture with no backing relation has no schema to infer:
    the fixture helper must raise the actionable contract error, not
    PySpark's CANNOT_INFER_EMPTY_SCHEMA."""
    import pytest as _pytest

    from dbt_trill_shop_spark.core.quality import _fixture_df

    with _pytest.raises(ValueError, match="at least one row"):
        _fixture_df(spark, [], like=None)
    # with a backing relation the empty fixture types cleanly
    like = spark.createDataFrame([(1, "a")], "id long, name string")
    out = _fixture_df(spark, [], like=like)
    assert out.count() == 0 and out.schema == like.schema


def test_properties_empty_test_list(tmp_path):
    """An empty `data_tests:` / `tests:` key (YAML None) parses as no tests
    instead of crashing — dbt accepts this shape while iterating."""
    from dbt_trill_shop_spark.core.docs import load_properties

    yml = tmp_path / "props.yml"
    yml.write_text(
        """
version: 2
models:
  - name: m1
    data_tests:
    columns:
      - name: c1
        data_tests:
      - name: c2
        tests:
"""
    )
    props = load_properties(str(yml))
    assert props["models"]["m1"]["tests"] == []


def test_state_modified_selection(spark, sf_dir):
    """dbt slim CI (--select state:modified+): only models whose checksum
    changed vs a previous manifest — plus their descendants — are selected;
    an unchanged project selects nothing."""
    import tempfile

    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    old = trends_project(target="dev", warehouse_dir=tempfile.mkdtemp(prefix="st0_"))
    old_manifest = old.manifest()
    assert all(n["checksum"] for n in old_manifest["nodes"].values())

    # identical project -> nothing modified
    new = trends_project(target="dev", warehouse_dir=tempfile.mkdtemp(prefix="st1_"))
    assert new.select_state_modified(old_manifest) == set()

    # edit one staging model's SQL -> it and its mart descendants select
    edited = trends_project(target="dev", warehouse_dir=tempfile.mkdtemp(prefix="st2_"))
    victim = edited.models["stg_top_terms"]
    replacement = sql_model(
        "stg_top_terms",
        "SELECT dma_id, dma_name, term, refresh_date, week, score, rank "
        "FROM {{ source('ecom', 'top_terms') }} WHERE score IS NOT NULL",
    )
    edited.models["stg_top_terms"] = replacement
    got = edited.select_state_modified(old_manifest)
    assert "stg_top_terms" in got
    assert "weekly_trends_summary" in got and "top_terms_comparison" in got
    assert "stg_international_top_terms" not in got
    assert "trending_terms_analysis" not in got  # only rising-terms inputs

    # without descendants: just the edited node
    assert edited.select_state_modified(old_manifest, include_descendants=False) == {
        "stg_top_terms"
    }

    # a brand-new model counts as modified
    edited.add_model(sql_model("extra", "SELECT 1 AS one"))
    assert "extra" in edited.select_state_modified(old_manifest)
    del victim


def test_tag_selection(spark):
    """dbt tag: selection — tag:<name> selects every tagged model, composes
    with the +descendants operator, and tags flow from the SQL-file
    config() into the manifest."""
    from dbt_trill_shop_spark.core.dag import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    p = Project("tags")
    p.add_source("src", spark.range(5).withColumnRenamed("id", "v"))
    p.add_model(
        sql_model("a", "{{ config(tags='staging,hourly') }} SELECT v FROM {{ source('x','src') }}")
    )
    p.add_model(sql_model("b", "{{ config(tags='staging') }} SELECT v FROM {{ ref('a') }}"))
    p.add_model(sql_model("c", "SELECT v FROM {{ ref('b') }}"))

    assert p.select("tag:staging") == {"a", "b"}
    assert p.select("tag:hourly+") == {"a", "b", "c"}
    assert p.select("tag:staging+") == {"a", "b", "c"}
    import pytest as _pytest

    with _pytest.raises(KeyError):
        p.select("tag:nope")
    assert p.manifest()["nodes"]["a"]["tags"] == ["staging", "hourly"]


def test_pre_post_hooks(spark):
    """dbt hooks: pre_hook runs before the build, post_hook after
    materialization with {{ this }} bound to the built relation — the
    audit-table / GRANT slot."""
    from dbt_trill_shop_spark.core.dag import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    spark.sql("DROP VIEW IF EXISTS hook_audit")
    p = Project("hooks")
    p.add_source("src", spark.range(7).withColumnRenamed("id", "v"))
    m = sql_model(
        "audited",
        "SELECT v FROM {{ source('x','src') }} WHERE v >= {{ var('min_v', 3) }}",
        pre_hook=("SET spark.sql.hook.probe=ran",),
        post_hook=(
            "CREATE OR REPLACE TEMP VIEW hook_audit AS "
            "SELECT 'audited' AS model, COUNT(*) AS n FROM {{ this }}",
        ),
    )
    p.add_model(m)
    p.build(spark, run_tests=False)
    assert spark.conf.get("spark.sql.hook.probe") == "ran"
    audit = spark.table("hook_audit").collect()
    assert audit[0]["model"] == "audited" and audit[0]["n"] == 4


def test_run_hooks_and_select_algebra(spark):
    """Project-level on-run-start/end run once around the build; select_many
    implements the CLI union-minus-exclude algebra."""
    from dbt_trill_shop_spark.core.dag import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    spark.sql("DROP VIEW IF EXISTS run_audit")
    p = Project("runhooks")
    p.add_source("src", spark.range(3).withColumnRenamed("id", "v"))
    p.add_model(sql_model("a", "{{ config(tags='stg') }} SELECT v FROM {{ source('x','src') }}"))
    p.add_model(sql_model("b", "SELECT v FROM {{ ref('a') }}"))
    p.add_model(sql_model("c", "{{ config(tags='slow') }} SELECT v FROM {{ ref('b') }}"))
    p.on_run_start = ["SET spark.sql.run.hook=started"]
    p.on_run_end = [
        "CREATE OR REPLACE TEMP VIEW run_audit AS SELECT 'done' AS status"
    ]
    p.build(spark, run_tests=False)
    assert spark.conf.get("spark.sql.run.hook") == "started"
    assert spark.table("run_audit").collect()[0]["status"] == "done"

    assert p.select_many() == {"a", "b", "c"}
    assert p.select_many(exclude=["tag:slow"]) == {"a", "b"}
    assert p.select_many(["tag:stg+"], exclude=["c"]) == {"a", "b"}
    assert p.select_many(["a", "c"]) == {"a", "c"}


def test_run_operation(spark):
    """dbt run-operation: a registered macro runs standalone against the
    built relations (the vacuum/grant/backfill idiom)."""
    import pytest as _pytest

    from dbt_trill_shop_spark.core.dag import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    p = Project("ops")
    p.add_source("src", spark.range(10).withColumnRenamed("id", "v"))
    p.add_model(sql_model("m", "SELECT v FROM {{ source('x','src') }}"))
    p.build(spark, run_tests=False)
    p.macros["count_over"] = (
        lambda relation, min_v=0: f"SELECT COUNT(*) AS n FROM {relation} WHERE v >= {min_v}"
    )
    assert p.run_operation(spark, "count_over", relation="m", min_v=5).collect()[0]["n"] == 5
    with _pytest.raises(KeyError):
        p.run_operation(spark, "nope")


def test_yaml_metrics_compile_to_one_grouped_pass(built_project):
    """metrics: YAML entries parse into Metric specs and metric_frame
    reproduces a hand-written rollup over the built mart."""
    import yaml

    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.core.metrics import metric_frame, parse_metrics
    from dbt_trill_shop_spark.models import properties_path

    p, _ = built_project
    spec = yaml.safe_load(open(properties_path()))
    metrics = parse_metrics(spec)
    assert [m.name for m in metrics] == ["weekly_terms_tracked", "weekly_peak_gain"]
    assert all(m.model == "weekly_trends_summary" for m in metrics)

    rel = p.ref("weekly_trends_summary")
    got = metric_frame(rel, metrics, grain="week", dimensions=("trend_type",))
    want = rel.groupBy(
        F.date_trunc("week", F.col("week")).cast("date").alias("metric_time"),
        "trend_type",
    ).agg(
        F.sum("total_terms").alias("weekly_terms_tracked"),
        F.expr(
            "max(CASE WHEN (max_percent_gain IS NOT NULL) THEN max_percent_gain END)"
        ).alias("weekly_peak_gain"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # one grouped aggregate: a single hash-partition exchange, no join
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_clone_from_shares_relations_without_rebuild(built_project, spark, sf_dir):
    """dbt clone: a new target picks up prod's built relations zero-copy and
    can layer a subset rebuild on top of them."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.core import Materialization, Model, Project

    prod, _ = built_project
    dev = Project("trends-dev", target="clone_dev", warehouse_dir=tempfile.mkdtemp(prefix="trillshop_clone_"))
    cloned = dev.clone_from(prod)
    assert set(cloned) == set(prod.relations)
    # cloned mart readable with identical contents, no build() in dev
    assert dev.ref("weekly_trends_summary").count() == prod.ref("weekly_trends_summary").count()
    # a new downstream model builds against the cloned upstream via ref()
    dev.add_model(
        Model(
            "weekly_rowcount",
            lambda s, ref: ref("weekly_trends_summary").agg(
                F.count(F.lit(1)).alias("n")
            ),
            deps=("weekly_trends_summary",),
            materialization=Materialization.VIEW,
        )
    )
    dev.build(spark, run_tests=False, subset={"weekly_rowcount"})
    assert dev.ref("weekly_rowcount").first()["n"] == prod.ref("weekly_trends_summary").count()
    dev.drop_warehouse()


def test_show_inline_preview(spark):
    """dbt show --inline: a Jinja snippet compiles against the project and
    returns a bounded preview."""
    from dbt_trill_shop_spark.core.dag import Project
    from dbt_trill_shop_spark.core.jinja_lite import sql_model

    p = Project("showp")
    p.add_source("src", spark.range(100).withColumnRenamed("id", "v"))
    p.add_model(sql_model("m", "SELECT v * 2 AS v2 FROM {{ source('x','src') }}"))
    p.build(spark, run_tests=False)
    out = p.show(spark, "SELECT v2 FROM {{ ref('m') }} WHERE v2 >= 10", limit=3)
    rows = out.collect()
    assert len(rows) == 3 and all(r["v2"] >= 10 for r in rows)


def test_retry_reruns_only_failed_subgraph(spark):
    """dbt retry: an errored model and its skipped descendants re-run;
    succeeded siblings don't rebuild."""
    from dbt_trill_shop_spark.core import Materialization, Model
    from dbt_trill_shop_spark.core.dag import Project

    p = Project("retryp")
    p.add_source("src", spark.range(10).withColumnRenamed("id", "v"))
    built = []

    def ok_builder(name):
        def b(s, ref):
            built.append(name)
            return ref("src")

        return b

    boom = {"on": True}

    def flaky(s, ref):
        built.append("flaky")
        if boom["on"]:
            raise RuntimeError("transient")
        return ref("src")

    p.add_model(Model("good", ok_builder("good"), deps=("src",)))
    p.add_model(Model("flaky", flaky, deps=("src",)))
    p.add_model(Model("child", ok_builder("child"), deps=("flaky",)))
    p.build(spark, run_tests=False, on_model_error="continue")
    assert p.last_run_results["good"]["status"] == "success"
    assert p.last_run_results["flaky"]["status"] == "error"
    assert p.last_run_results["child"]["status"] == "skipped"
    built.clear()
    boom["on"] = False
    p.retry(spark, run_tests=False)
    assert built == ["flaky", "child"]  # the succeeded sibling did not rebuild
    assert p.last_run_results["flaky"]["status"] == "success"
    assert p.last_run_results["child"]["status"] == "success"


def test_private_model_cross_group_ref_fails(spark):
    """dbt groups/access: a private model may only be ref'd inside its own
    group; the violation fails pre-flight, before any materialization."""
    import pytest as _pytest

    from dbt_trill_shop_spark.core import AccessError, Materialization, Model
    from dbt_trill_shop_spark.core.dag import Project

    def passthrough(s, ref):
        return ref("src")

    p = Project("accp")
    p.add_source("src", spark.range(5).withColumnRenamed("id", "v"))
    p.add_model(
        Model("internal", passthrough, deps=("src",), group="finance", access="private")
    )
    p.add_model(
        Model("outsider", lambda s, ref: ref("internal"), deps=("internal",), group="web")
    )
    with _pytest.raises(AccessError, match="outsider.*internal"):
        p.build(spark, run_tests=False)
    # same-group refs are fine
    p2 = Project("accp2")
    p2.add_source("src", spark.range(5).withColumnRenamed("id", "v"))
    p2.add_model(
        Model("internal", passthrough, deps=("src",), group="finance", access="private")
    )
    p2.add_model(
        Model(
            "report",
            lambda s, ref: ref("internal"),
            deps=("internal",),
            group="finance",
        )
    )
    p2.build(spark, run_tests=False)
    assert p2.ref("report").count() == 5
    assert p2.manifest()["nodes"]["internal"]["access"] == "private"


def test_model_versions_latest_and_pinned(spark):
    """dbt 1.6 model versions: bare ref resolves latest, pinned ref the
    exact version; both materialize distinctly and the manifest records
    version/latest/deprecation."""
    import warnings as _warnings

    from dbt_trill_shop_spark.core import Materialization, Model
    from dbt_trill_shop_spark.core.dag import Project

    p = Project("verp")
    p.add_source("src", spark.range(10).withColumnRenamed("id", "v"))
    p.add_model(
        Model(
            "dim",
            lambda s, ref: ref("src").selectExpr("v AS old_col"),
            deps=("src",),
            version=1,
            deprecation_date="2026-12-31",
        )
    )
    p.add_model(
        Model(
            "dim",
            lambda s, ref: ref("src").selectExpr("v AS new_col", "v * 2 AS extra"),
            deps=("src",),
            version=2,
        )
    )
    p.add_model(
        Model("use_old", lambda s, ref: ref("dim.v1"), deps=("dim.v1",))
    )
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        p.build(spark, run_tests=False)
    assert any("deprecated" in str(x.message) for x in w)
    assert p.ref("dim").columns == ["new_col", "extra"]  # bare -> latest (v2)
    assert p.ref("dim", version=1).columns == ["old_col"]  # pinned
    assert p.ref("use_old").columns == ["old_col"]  # downstream pin held
    m = p.manifest()["nodes"]
    assert m["dim.v1"]["version"] == 1 and m["dim.v1"]["latest_version"] == 2
    assert m["dim.v1"]["deprecation_date"] == "2026-12-31"
    assert m["dim.v2"]["latest_version"] == 2


def test_compile_sql_renders_without_executing(spark):
    """dbt compile / analyses: Jinja renders to plain SQL, nothing runs."""
    from dbt_trill_shop_spark.core.dag import Project

    p = Project("compp")
    p.vars["cutoff"] = 7
    p.macros["double_it"] = lambda col: f"({col} * 2)"
    out = p.compile_sql(
        "SELECT {{ double_it('v') }} AS v2 FROM {{ ref('m') }} "
        "WHERE v > {{ var('cutoff') }}"
    )
    assert out.split() == "SELECT (v * 2) AS v2 FROM m WHERE v > 7".split()


def test_threaded_build_matches_serial_and_overlaps(spark):
    """dbt threads: independent branches build concurrently with identical
    results and failure routing to the serial scheduler."""
    import threading
    import time as _time

    from dbt_trill_shop_spark.core import Model
    from dbt_trill_shop_spark.core.dag import Project

    concurrency = {"now": 0, "peak": 0}
    lock = threading.Lock()

    def slow(tag):
        def b(s, ref):
            with lock:
                concurrency["now"] += 1
                concurrency["peak"] = max(concurrency["peak"], concurrency["now"])
            _time.sleep(0.5)
            with lock:
                concurrency["now"] -= 1
            return ref("src").selectExpr(f"v AS {tag}")

        return b

    p = Project("thr")
    p.add_source("src", spark.range(20).withColumnRenamed("id", "v"))
    for tag in ("a", "b", "c"):
        p.add_model(Model(tag, slow(tag), deps=("src",)))
    p.add_model(
        Model(
            "joined",
            lambda s, ref: ref("a").join(ref("b"), ref("a").a == ref("b").b),
            deps=("a", "b"),
        )
    )
    p.build(spark, run_tests=False, threads=3)
    assert concurrency["peak"] >= 2  # the three leaves really overlapped
    assert p.ref("joined").count() == 20
    assert all(
        r["status"] == "success" for r in p.last_run_results.values()
    )

    # failure routing: an error in one branch skips only its descendants
    p2 = Project("thr2")
    p2.add_source("src", spark.range(5).withColumnRenamed("id", "v"))

    def boom(s, ref):
        raise RuntimeError("nope")

    p2.add_model(Model("ok", lambda s, ref: ref("src"), deps=("src",)))
    p2.add_model(Model("bad", boom, deps=("src",)))
    p2.add_model(Model("child", lambda s, ref: ref("bad"), deps=("bad",)))
    p2.build(spark, run_tests=False, threads=4, on_model_error="continue")
    assert p2.last_run_results["ok"]["status"] == "success"
    assert p2.last_run_results["bad"]["status"] == "error"
    assert p2.last_run_results["child"]["status"] == "skipped"


def test_macro_files_load_and_dispatch(spark):
    """dbt macros/ directory: {% macro %} definitions load from .sql files,
    the adapter-dispatch idiom resolves to the spark__ variant, and the
    compiled SQL agrees with the DataFrame-API macro twin."""
    import os

    import dbt_trill_shop_spark.models as M
    from dbt_trill_shop_spark.core.jinja_lite import (
        compile_model_sql,
        load_macro_files,
    )
    from dbt_trill_shop_spark.functions import cents_to_dollars

    path = os.path.join(os.path.dirname(M.__file__), "macros", "project_macros.sql")
    macros = load_macro_files([path], adapter="spark")
    assert set(macros) == {"cents_to_dollars"}
    compiled = compile_model_sql(
        "SELECT {{ cents_to_dollars('amount_cents') }} AS d FROM src", macros=macros
    )
    assert "ROUND((amount_cents) / 100, 2)" in compiled
    # value parity with the DataFrame-API twin
    df = spark.range(5).selectExpr("id * 12345 AS amount_cents")
    df.createOrReplaceTempView("src")
    via_sql = [r["d"] for r in spark.sql(compiled).collect()]
    via_df = [
        r["d"] for r in df.select(cents_to_dollars("amount_cents").alias("d")).collect()
    ]
    assert via_sql == via_df
    # unknown adapter falls back to the default__ variant
    fallback = load_macro_files([path], adapter="nosuch")
    assert "DECIMAL(16, 2)" in fallback["cents_to_dollars"]("x")


def test_unit_tests_mock_refs_and_compare(spark, sf_dir):
    """dbt 1.8 unit tests over BOTH builder kinds: Python models run through
    the mock resolver; raw Jinja SQL models compile with project macros and
    read bare-name fixture views that are dropped again afterward (a built
    DAG's views must not stay clobbered)."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.core import (
        Model,
        UnitTest,
        run_unit_test,
    )

    py_model = Model(
        "totals",
        lambda s, ref: ref("raw_sales")
        .groupBy("region")
        .agg(F.sum("amount").alias("total")),
        deps=("raw_sales",),
    )
    sql_model = Model(
        "big_totals",
        "SELECT region, total FROM {{ ref('totals') }} WHERE total > 10",
        deps=("totals",),
    )
    given = {
        "raw_sales": [
            {"region": "eu", "amount": 7},
            {"region": "eu", "amount": 5},
            {"region": "us", "amount": 3},
        ]
    }
    r1 = run_unit_test(
        spark,
        py_model,
        UnitTest(
            "sums_per_region",
            "totals",
            given,
            expect=[{"region": "eu", "total": 12}, {"region": "us", "total": 3}],
        ),
    )
    assert r1.passed, r1.diff

    # leave a sentinel view named like the SQL model's dep: the unit test
    # must shadow it during the run and restore nothing afterwards (dropped)
    spark.createDataFrame([("sentinel",)], ["marker"]).createOrReplaceTempView(
        "totals"
    )
    r2 = run_unit_test(
        spark,
        sql_model,
        UnitTest(
            "filters_small_totals",
            "big_totals",
            {"totals": [{"region": "eu", "total": 12}, {"region": "us", "total": 3}]},
            expect=[{"region": "eu"}],
        ),
    )
    assert r2.passed, r2.diff
    # the fixture view is gone (not left clobbering the session namespace)
    assert not any(t.name == "totals" for t in spark.catalog.listTables())

    r3 = run_unit_test(
        spark,
        py_model,
        UnitTest("wrong", "totals", given, expect=[{"region": "eu", "total": 999}]),
    )
    assert not r3.passed and r3.diff


def test_cli_ls_build_and_docs(spark, sf_dir, tmp_path, capsys):
    """The dbt-style CLI must list selections, build with tests, and write
    the target/ artifacts — exercised in-process against sf0.001."""
    import json
    import os

    from dbt_trill_shop_spark.__main__ import main

    rc = main(["ls", "--select", "+top_terms_comparison"])
    out = capsys.readouterr().out.split()
    assert rc == 0 and "top_terms_comparison" in out and len(out) == 3

    wh = str(tmp_path / "wh")
    rc = main([
        "build", "--sf-dir", sf_dir, "--warehouse-dir", wh,
        "--select", "+top_terms_comparison",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "success  top_terms_comparison" in out

    tgt = str(tmp_path / "target")
    rc = main([
        "docs", "--sf-dir", sf_dir, "--warehouse-dir", str(tmp_path / "wh2"),
        "--target-path", tgt,
    ])
    capsys.readouterr()
    assert rc == 0
    manifest = json.load(open(os.path.join(tgt, "manifest.json")))
    assert "weekly_trends_summary" in str(manifest)
    assert os.path.exists(os.path.join(tgt, "catalog.json"))
    # the CLI also renders the browsable site next to the JSON artifacts
    site = open(os.path.join(tgt, "index.html")).read()
    assert 'id="node-weekly_trends_summary"' in site


def test_observation_rows_affected_in_run_results(spark, sf_dir, tmp_path):
    """Table materializations must report rows_affected from the write
    job's Observation (no extra pass) in run_results."""
    from dbt_trill_shop_spark.fixtures.trends_fixtures import register_trends_sources
    from dbt_trill_shop_spark.models.trends import trends_project

    p = trends_project(warehouse_dir=str(tmp_path / "wh"))
    p.add_sources(register_trends_sources(spark, sf_dir))
    p.build(spark, run_tests=False, subset=p.select("+top_terms_comparison"))
    rr = p.last_run_results["top_terms_comparison"]
    assert rr["status"] == "success"
    assert rr["rows_affected"] == p.ref("top_terms_comparison").count()
    # views are lazy — no job to observe, so no row metric
    assert "rows_affected" not in p.last_run_results["stg_top_terms"]


def test_docs_site_list_valued_test_args_not_fragmented():
    """ADVICE r4: AcceptedValues(column='x', values=['a', 'b']) must render
    as ONE badge with the intact values list — a bare comma split fragments
    it into broken pieces ("values=['a'", "'b']")."""
    from dbt_trill_shop_spark.core.docs_site import _split_args, _tests_by_column

    assert _split_args("column='x', values=['a', 'b'], quoted=\"p, q\"") == [
        "column='x'",
        " values=['a', 'b']",
        ' quoted="p, q"',
    ]
    node = {"tests": ["AcceptedValues(column='x', values=['a', 'b'])"]}
    by_col = _tests_by_column(node)
    assert by_col == {"x": ["AcceptedValues(values=['a', 'b'])"]}


def test_docs_site_escapes_run_numbers_and_styles_success():
    """ADVICE r4: status-success carries a CSS rule, and rows_affected /
    row_count interpolations are HTML-escaped like every other field."""
    from dbt_trill_shop_spark.core.docs_site import render_docs_site

    manifest = {
        "nodes": {
            "m1": {
                "materialization": "table",
                "schema": "s",
                "deps": [],
                "columns": {},
                "tests": [],
            }
        },
        "sources": {},
    }
    run_results = {
        "results": [
            {
                "unique_id": "model.p.m1",
                "status": "success",
                "execution_time": 1.0,
                "rows_affected": "<script>1</script>",
            }
        ]
    }
    catalog = {"nodes": {"m1": {"stats": {"row_count": "<img>"}, "columns": {}}}}
    page = render_docs_site(manifest, catalog, run_results)
    assert ".status-success" in page.split("</style>")[0]
    assert "<script>1</script>" not in page and "&lt;script&gt;1&lt;/script&gt;" in page
    assert "<img>" not in page and "&lt;img&gt;" in page
