"""Generic data tests compiled to Spark queries expected to return 0 rows.

The reference declares 20 tests across its sources/staging/mart YAML
(SURVEY.md §5); dbt compiles each into a SELECT whose rows are violations.
Same contract here: ``build(df) -> DataFrame`` of violations; the test
passes iff the DataFrame is empty.

Semantics preserved exactly (these are easy to get subtly wrong):

- ``not_null``        — rows where the column IS NULL.
- ``unique``          — values (non-null, per dbt) appearing more than once.
- ``relationships``   — child FK values (non-null) with no parent: LEFT ANTI
                        join (SURVEY §2.4 J3).
- ``accepted_values`` — values outside the list; **NULLs pass** (dbt quirk,
                        SURVEY §7.2b — a NULL fails not_null, never
                        accepted_values).

Scale: each test is one scan + (for unique/relationships) one key-only
shuffle with map-side combine; violations short-circuit via ``limit`` in
``run`` so a pathological failure doesn't materialize millions of rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from live_data_spark.plans.registry import Project

MAX_FAILURE_SAMPLE = 20


@dataclass(frozen=True)
class TestResult:
    test_name: str
    model: str
    passed: bool
    n_violations: int
    sample: tuple = ()
    severity: str = "error"  # dbt severity config: "error" | "warn"
    failures_path: str | None = None  # set when store_failures persisted rows

    @property
    def blocking(self) -> bool:
        """True iff this result should fail the run (dbt: warn never does)."""
        return not self.passed and self.severity == "error"

    def __str__(self) -> str:  # pragma: no cover - cosmetic
        status = "PASS" if self.passed else f"FAIL ({self.n_violations} violations)"
        if not self.passed and self.severity == "warn":
            status = f"WARN ({self.n_violations} violations)"
        return f"{self.test_name}[{self.model}]: {status}"


@dataclass(frozen=True)
class GenericTest:
    """A declared test: name, target model/source, violation-query builder."""

    test_name: str
    model: str  # model name, or "source:bike_shop.customers"
    column: str
    params: tuple = ()
    severity: str = "error"  # "warn" reports without failing the run

    def _target(self, project: "Project") -> DataFrame:
        if self.model.startswith("source:"):
            source_name, table = self.model.removeprefix("source:").split(".", 1)
            return project.read_source(source_name, table)
        return project.relation(self.model)

    def build(self, project: "Project") -> DataFrame:
        raise NotImplementedError

    def run(
        self,
        project: "Project",
        store_failures_dir: str | None = None,
        violations: DataFrame | None = None,
    ) -> TestResult:
        """Evaluate the test; ``violations`` is its plan when the caller
        already built it (``Project.run_tests`` plans on its own thread and
        runs the actions on a pool)."""
        if violations is None:
            violations = self.build(project)
        # count via limited collect: a passing test touches no extra data,
        # a failing one materializes at most the sample
        sample = violations.limit(MAX_FAILURE_SAMPLE + 1).collect()
        n = len(sample)
        failures_path = None
        if n and store_failures_dir is not None:
            # dbt store_failures: persist the FULL violation set as a table
            # an analyst can query (the sample above is only a preview)
            safe_model = self.model.replace(":", "_").replace(".", "_")
            failures_path = f"{store_failures_dir}/{safe_model}__{self.test_name}"
            violations.write.mode("overwrite").parquet(failures_path)
        return TestResult(
            test_name=self.test_name,
            model=self.model,
            passed=n == 0,
            n_violations=n,  # ">MAX_FAILURE_SAMPLE" truncated count
            sample=tuple(tuple(r) for r in sample[:MAX_FAILURE_SAMPLE]),
            severity=self.severity,
            failures_path=failures_path,
        )


@dataclass(frozen=True)
class NotNullTest(GenericTest):
    def build(self, project: "Project") -> DataFrame:
        return self._target(project).where(F.col(self.column).isNull()).select(self.column)


@dataclass(frozen=True)
class UniqueTest(GenericTest):
    def build(self, project: "Project") -> DataFrame:
        # dbt unique ignores NULLs (they're not_null's job)
        return (
            self._target(project)
            .where(F.col(self.column).isNotNull())
            .groupBy(self.column)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
        )


@dataclass(frozen=True)
class RelationshipsTest(GenericTest):
    """params = (parent_model, parent_column)."""

    def build(self, project: "Project") -> DataFrame:
        parent_model, parent_column = self.params
        child = self._target(project).where(F.col(self.column).isNotNull())
        parent = (
            GenericTest(self.test_name, parent_model, parent_column)
            ._target(project)
            .select(F.col(parent_column).alias("__parent_key"))
        )
        return child.join(
            parent, child[self.column] == parent["__parent_key"], "left_anti"
        ).select(self.column)


@dataclass(frozen=True)
class AcceptedValuesTest(GenericTest):
    """params = tuple of accepted values. NULLs pass (dbt semantics)."""

    def build(self, project: "Project") -> DataFrame:
        return (
            self._target(project)
            .where(~F.col(self.column).isin(*self.params) & F.col(self.column).isNotNull())
            .select(self.column)
        )


@dataclass(frozen=True)
class SingularTest(GenericTest):
    """dbt singular (SQL) test: an arbitrary violation query as a test node.

    Closes the reference's last declared-empty project dir
    (``dbt_sao/tests/.gitkeep``): dbt compiles every ``tests/*.sql`` file
    into a SELECT whose returned rows are the violations — the test passes
    iff it returns 0 rows. Here the query body is any callable
    ``Project -> DataFrame`` written against ``project.relation(...)`` /
    ``project.read_source(...)`` (the ``ref()``/``source()`` analog), and
    the node runs through the exact same ``run`` / severity /
    store_failures path as the generic tests — one runner, two
    declaration styles, like dbt.

    ``model`` names the primary relation under test (drives
    ``run_tests(select=...)`` and the manifest edge); ``column`` stays
    ``""`` — a singular test asserts a cross-column or cross-model
    invariant, not a column property.

    Scale: the violation query is an ordinary lazy plan — whatever the
    author writes is what runs, so the same plan-hygiene rules apply as
    to models (the bundled examples are one scan + one key-only shuffle
    each, and ``run``'s limited collect keeps a pathological failure from
    materializing more than the sample).
    """

    builder: Optional[Callable[["Project"], DataFrame]] = field(
        default=None, compare=False
    )

    def build(self, project: "Project") -> DataFrame:
        if self.builder is None:
            raise ValueError(f"singular test {self.test_name} declared without a query")
        return self.builder(project)


# -- declaration helpers (the YAML shorthand) --------------------------------


def not_null(model: str, column: str, severity: str = "error") -> NotNullTest:
    return NotNullTest(f"not_null_{column}", model, column, severity=severity)


def unique(model: str, column: str, severity: str = "error") -> UniqueTest:
    return UniqueTest(f"unique_{column}", model, column, severity=severity)


def relationships(
    model: str, column: str, to_model: str, to_column: str, severity: str = "error"
) -> RelationshipsTest:
    return RelationshipsTest(
        f"relationships_{column}__{to_model}_{to_column}",
        model,
        column,
        params=(to_model, to_column),
        severity=severity,
    )


def accepted_values(model: str, column: str, values: list, severity: str = "error") -> AcceptedValuesTest:
    return AcceptedValuesTest(
        f"accepted_values_{column}", model, column, params=tuple(values), severity=severity
    )


def singular(
    test_name: str,
    model: str,
    builder: Callable[["Project"], DataFrame],
    severity: str = "error",
) -> SingularTest:
    """Declare a singular test (dbt: one ``tests/<test_name>.sql`` file)."""
    return SingularTest(test_name, model, column="", builder=builder, severity=severity)
