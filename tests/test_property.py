"""Property-based convergence (hypothesis): for ANY delivery order,
batch size, bucket count, and DDL placement, replay converges to the
single-threaded oracle state — the T2/T4/T5 invariants quantified over
the input space instead of fixed seeds.

Sizes are small (Spark round-trips dominate); examples are capped so
the suite stays within the driver's pytest budget.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import DDLSpec, gen_changelog, gen_seed_table, permute_delivery
from dx.lake import LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash

CASE = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 10_000),
        "delta": st.sampled_from([75, 200, 450]),
        "n_buckets": st.sampled_from([1, 4, 7]),
        "permute": st.booleans(),
        "ddl_frac": st.one_of(st.none(), st.floats(0.2, 0.8)),
    }
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=CASE)
def test_any_config_converges_to_oracle(spark, tmp_path_factory, case):
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=10, seed=case["seed"])
    ddl = (
        [
            DDLSpec(case["ddl_frac"], "add_column", "lang2"),
            DDLSpec(min(0.95, case["ddl_frac"] + 0.15), "drop_column", "lang2"),
        ]
        if case["ddl_frac"] is not None
        else []
    )
    chg = gen_changelog(seed_df, n_events=600, seed=case["seed"], ddl_specs=ddl)
    delivered = permute_delivery(chg, seed=case["seed"]) if case["permute"] else chg

    wd = tmp_path_factory.mktemp("prop")
    table = LakeTable.create(spark, str(wd / "t"), n_buckets=case["n_buckets"])
    seed_lake(spark, table, seed_df)
    ReplayEngine(
        spark,
        table,
        changelog_from_pandas(spark, delivered),
        delta=case["delta"],
    ).run()

    expected = replay(seed_df, chg)  # oracle always sees LSN order
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert state_hash(actual) == state_hash(expected)
