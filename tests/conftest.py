import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amaxa_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("AMAXA_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("amaxa_spark_tests", cpus=8)
    # Test-session-only runtime conf: the suite asserts RESULTS, not
    # plan shapes, and at sf0.001 every AQE stage job and every 8-way
    # tiny shuffle is pure scheduling overhead (~0.2 s per job on this
    # host — the full suite runs thousands of jobs). Production
    # surfaces (bench.py, tools/check_correctness.py, the library's
    # default session) keep AQE + cpu-count shuffle partitions — see
    # session.py. AMAXA_TEST_PROD_CONF=1 runs the suite under the
    # production conf instead (results must be identical either way;
    # the full suite has been verified green under both).
    if os.environ.get("AMAXA_TEST_PROD_CONF") != "1":
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", "2")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class VersionedLayout:
    """One table on either versioned storage layout, driven only
    through the public verbs, so a test written once checks both:
    ``kind="table"`` calls the single-table verbs on ``root``;
    ``kind="db"`` calls their ``*_db`` twins on a database at ``root``
    holding the one table ``TABLE``. Per-table keyword arguments of
    the db verbs (``stats_cols``, ``cluster_by``, ...) are wrapped into
    their ``{table: value}`` form."""

    TABLE = "t"

    def __init__(self, spark, kind: str, root: str):
        self.spark, self.kind, self.root = spark, kind, root

    def __repr__(self) -> str:
        return f"VersionedLayout({self.kind!r})"

    @property
    def db(self) -> bool:
        return self.kind == "db"

    def _per_table(self, kw: dict, keys) -> dict:
        return {
            k: ({self.TABLE: v} if self.db and k in keys else v)
            for k, v in kw.items()
        }

    def write(self, df, pk: str, n_buckets: int, **kw) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.write_versioned_db(
                self.spark, self.root, {self.TABLE: df}, {self.TABLE: pk},
                n_buckets=n_buckets, **self._per_table(kw, kw),
            )
        return C.write_versioned_table(df, self.root, pk, n_buckets, **kw)

    def manifest(self, token: str | None = None) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C._db_manifest(self.root, token)
        return C._bucket_manifest(self.root, token)

    def entry(self, manifest: dict | None = None) -> dict:
        """The table's entry in a manifest (default: the head's) — the
        whole manifest on the single-table layout."""
        m = self.manifest() if manifest is None else manifest
        return m["tables"][self.TABLE] if self.db else m

    def read(self, token: str | None = None):
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.read_versioned_db(
                self.spark, self.root, self.TABLE, token=token
            )
        return C.read_versioned_table(self.spark, self.root, token=token)

    def merge(self, updates, pk: str, set_cols: list[str], **kw) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.merge_into_versioned_db(
                self.spark, self.root, {self.TABLE: updates},
                {self.TABLE: set_cols}, **kw,
            )
        return C.merge_into_versioned(
            self.spark, self.root, updates, pk, set_cols, **kw
        )

    def delete(self, keys, pk: str, **kw) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.delete_from_versioned_db(
                self.spark, self.root, {self.TABLE: keys}, **kw
            )
        return C.delete_from_versioned(self.spark, self.root, keys, pk, **kw)

    def update(self, set_exprs: dict, where=None, **kw) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            spec = {"set": set_exprs, "where": where}
            for k in ("prune", "eq"):
                if k in kw:
                    spec[k] = kw.pop(k)
            return C.update_versioned_db(
                self.spark, self.root, {self.TABLE: spec}, **kw
            )
        return C.update_versioned(
            self.spark, self.root, set_exprs, where=where, **kw
        )

    def apply_changes(self, changes, **kw) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.apply_changes_versioned_db(
                self.spark, self.root, {self.TABLE: changes}, **kw
            )
        return C.apply_changes_versioned(self.spark, self.root, changes, **kw)

    def optimize(self, **kw):
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.optimize_versioned_db(
                self.spark, self.root,
                **self._per_table(
                    kw, ("cluster_by", "zorder_by", "files_per_bucket")
                ),
            )
        return C.optimize_versioned(self.spark, self.root, **kw)

    def add_constraint(self, name: str, expr: str) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.alter_versioned_db_add_constraint(
                self.spark, self.root, self.TABLE, name, expr
            )
        return C.alter_versioned_add_constraint(
            self.spark, self.root, name, expr
        )

    def rename(self, old: str, new: str) -> dict:
        from amaxa_spark.sources import catalog as C

        if self.db:
            return C.alter_versioned_db_rename_column(
                self.root, self.TABLE, old, new, self.spark
            )
        return C.alter_versioned_rename_column(self.root, old, new, self.spark)


@pytest.fixture
def versioned_layouts(spark, tmp_path):
    """Both storage layouts, each rooted in its own directory: a test
    loops over them so one body pins the two layouts' parity."""
    return [
        VersionedLayout(spark, kind, str(tmp_path / kind))
        for kind in ("table", "db")
    ]
