"""The reference's user-facing API: ``store_*`` functions (SURVEY.md §2 Part A).

Every function follows the reference's one template (⟨pub⟩ every
R/store_*.R [H], SURVEY.md §3.1): **validate → normalize → fingerprint →
stage → server-side merge → return input + fingerprints**. Here the merge
runs through ``sources/jdbc.py`` (staging table + set-based SQL, exactly the
reference's design) against any backend — DuckDB and sqlite3 in tests,
PostgreSQL through ``DbApiBackend`` or ``PgParallelBackend``.

A user of ``n2kupdate`` maps 1:1:

    n2kupdate (R)                      n2kupdate_spark (PySpark)
    ---------------------------------  ----------------------------------
    conn <- connect_ut_db()            store = N2kStore(backend)
    store_language(lang_df, conn)      store.store_language(lang_df)
    store_scheme(df, hash, conn)       store.store_scheme(df)
    store_species_group_species(...)   store.store_species_group_species(...)

Validation mirrors the reference's assertthat guards: required columns
present and junk columns rejected (checked on the schema, before anything
runs), no NULL in natural-key columns (checked by one probe query on the
staged batch, before the merge touches the target). Either way the call
raises ``ValidationError`` and the target is unchanged (all-or-nothing
batch semantics come from the transactional merge in sources/jdbc.py).
Rows repeating a fingerprint are resolved by the merge SQL, which keeps
one deterministic winner.

Scale notes: fingerprints are computed executor-side as Spark columns
(md5 of '|'-joined natural keys — SURVEY.md §7.4.1: sha1 kept as an opt-in
because the DuckDB oracle lacks it); a ``store_*`` call runs ONE Spark job,
the staging write; the merge is set-based SQL on the server. Nothing here
collects a fact table to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from n2kupdate_spark.functions import fingerprint
from n2kupdate_spark.sources.jdbc import ValidationError, upsert


@dataclass(frozen=True)
class TableSpec:
    """One target table: natural key, attributes, merge mode."""

    name: str
    natural_key: Sequence[str]
    attributes: Sequence[str] = ()
    mode: str = "scd1"  # scd1 | insert_ignore | set_replace | scd2_changes
    group_key: Sequence[str] = ()  # set_replace only: the replaced scope

    @property
    def columns(self) -> list[str]:
        return [*self.natural_key, *self.attributes]


#: The n2kresult target tables the reference stores into (SURVEY.md §2
#: Part A [M] — names reconstructed; semantics per store-function row).
TABLE_SPECS: dict[str, TableSpec] = {
    "language": TableSpec("language", ("code",), ("description",)),
    "datasource_type": TableSpec("datasource_type", ("description",)),
    "datafield_type": TableSpec("datafield_type", ("description",)),
    "scheme": TableSpec("scheme", ("description",)),
    "anomaly_type": TableSpec("anomaly_type", ("description",)),
    "model_set": TableSpec("model_set", ("description",), ("first_year", "last_year", "duration")),
    "datasource": TableSpec("datasource", ("description", "datasource_type"), ()),
    "species_group": TableSpec("species_group", ("description", "scheme"), ()),
    "location_group": TableSpec("location_group", ("description", "scheme"), ()),
    "species_group_species": TableSpec(
        "species_group_species",
        ("species_group", "species"),
        (),
        mode="set_replace",
        group_key=("species_group",),
    ),
    "location_group_location": TableSpec(
        "location_group_location",
        ("location_group", "location"),
        (),
        mode="set_replace",
        group_key=("location_group",),
    ),
    "analysis": TableSpec(
        "analysis",
        ("file_fingerprint",),
        ("model_set", "first_year", "last_year", "duration"),
        mode="insert_ignore",
    ),
    "analysis_version": TableSpec(
        "analysis_version", ("analysis", "version_fingerprint"), (), mode="insert_ignore"
    ),
    # parent_parameter is an attribute, not key material: NULL for root
    # parameters, and the no-NA natural-key guard must not reject roots.
    "datasource_parameter": TableSpec(
        "datasource_parameter", ("description",), ("parent_parameter",)
    ),
    "datasource_value": TableSpec(
        "datasource_value", ("datasource", "parameter"), ("value",)
    ),
    "species": TableSpec(
        "species", ("scientific_name",), ("nbn_key", "euring_code", "gbif_id")
    ),
    "species_common_name": TableSpec(
        "species_common_name", ("species", "language"), ("description",)
    ),
    "location": TableSpec(
        "location", ("external_code", "datasource"), ("description", "parent_location")
    ),
    "datafield": TableSpec(
        "datafield", ("datasource", "table_name", "primary_key", "datafield_type"), ()
    ),
    "observation": TableSpec(
        "observation",
        ("external_code", "datafield"),
        ("location", "year", "parent_observation"),
    ),
    "anomaly": TableSpec(
        "anomaly", ("anomaly_type", "analysis", "observation"), ("parameter",)
    ),
}

FINGERPRINT_COL = "fingerprint"


def validate_frame(df: DataFrame, spec: TableSpec) -> DataFrame:
    """The reference's column guards, on the schema alone (no Spark job):
    required columns present, extra columns beyond the spec rejected.
    Returns the frame projected to spec order. NULL natural keys are
    rejected later, by ``upsert``'s probe on the staged batch."""
    missing = [c for c in spec.columns if c not in df.columns]
    if missing:
        raise ValidationError(f"{spec.name}: missing required columns {missing}")
    extra = [c for c in df.columns if c not in spec.columns]
    if extra:
        raise ValidationError(f"{spec.name}: unexpected columns {extra}")
    return df.select(*spec.columns)


def add_fingerprint(df: DataFrame, spec: TableSpec, algo: str = "md5") -> DataFrame:
    """Stable surrogate key = hash of the ordered natural-key values — the
    reference's digest::sha1 idempotence mechanism (md5 default, §7.4.1)."""
    return df.withColumn(FINGERPRINT_COL, fingerprint(list(spec.natural_key), algo))


def _first_per_fingerprint(df: DataFrame, spec: TableSpec) -> DataFrame:
    """One row per fingerprint — the row the merge SQL keeps from a batch
    that repeats one: first in ascending order of the spec columns, NULLs
    last (sources.jdbc._source). Lazy: no job runs unless the caller acts."""
    order = [F.col(c).asc_nulls_last() for c in spec.columns]
    rn = F.row_number().over(Window.partitionBy(FINGERPRINT_COL).orderBy(*order))
    return df.withColumn("n2k_rn", rn).filter("n2k_rn = 1").drop("n2k_rn")


@dataclass
class N2kStore:
    """Session object bundling a merge backend (the reference's ``conn``).

    ``backend`` is any object with the sources/jdbc.py backend protocol
    (``write_staging`` / ``fetchone`` / ``execute`` / ``drop_staging``) —
    DbApiBackend (DuckDB, sqlite3, PostgreSQL) or PgParallelBackend
    (PostgreSQL over a protocol-v3 session it opens itself).
    """

    backend: object
    schema: str = ""  # optional target-schema prefix, e.g. "public"
    hash_algo: str = "md5"
    clean: bool = True  # drop staging after merge (reference's `clean` arg)

    def _target(self, table: str) -> str:
        return f"{self.schema}.{table}" if self.schema else table

    def _store(self, df: DataFrame, spec: TableSpec, batch_ts: str | None = None) -> DataFrame:
        """validate → fingerprint → ``upsert``, whose staging write is the
        call's one Spark job and whose probe rejects NULL natural keys."""
        frame = validate_frame(df, spec)
        if spec.mode == "scd2_changes":  # versioned: keyed by the natural key
            keys, unique = list(spec.natural_key), None
        else:
            frame = add_fingerprint(frame, spec, self.hash_algo)
            keys = list(spec.group_key) if spec.mode == "set_replace" else [FINGERPRINT_COL]
            unique = FINGERPRINT_COL
        upsert(
            frame,
            self._target(spec.name),
            keys,
            self.backend,
            mode=spec.mode,
            clean=self.clean,
            not_null=list(spec.natural_key),
            unique=unique,
            batch_ts=batch_ts,
        )
        return frame if unique is None else _first_per_fingerprint(frame, spec)

    # --- dimension upserts (one per reference store_* export) -------------

    def store_language(self, df: DataFrame) -> DataFrame:
        """⟨pub⟩ R/store_language.R: simplest dim upsert."""
        return self._store(df, TABLE_SPECS["language"])

    def store_datasource_type(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["datasource_type"])

    def store_datafield_type(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["datafield_type"])

    def store_scheme(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["scheme"])

    def store_anomaly_type(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["anomaly_type"])

    def store_model_set(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["model_set"])

    def store_datasource(self, df: DataFrame) -> DataFrame:
        """⟨pub⟩ R/store_datasource.R: dim upsert; the datasource_type column
        is part of the natural key (server-side id resolution happens in the
        merge SQL's join in the reference; fingerprint-keying subsumes it)."""
        return self._store(df, TABLE_SPECS["datasource"])

    def store_species_group(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["species_group"])

    def store_location_group(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["location_group"])

    # --- set-replacement membership merges --------------------------------

    def store_species_group_species(self, df: DataFrame) -> DataFrame:
        """⟨pub⟩ R/store_species_group_species.R: membership replaced
        wholesale per species_group present in the batch."""
        return self._store(df, TABLE_SPECS["species_group_species"])

    def store_location_group_location(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["location_group_location"])

    def store_datasource_parameter(self, df: DataFrame) -> DataFrame:
        return self._store(df, TABLE_SPECS["datasource_parameter"])

    def store_datasource_value(self, df: DataFrame) -> DataFrame:
        """Composite-natural-key dim (parameter values per datasource)."""
        return self._store(df, TABLE_SPECS["datasource_value"])

    def store_location(self, df: DataFrame) -> DataFrame:
        """⟨pub⟩ R/store_location.R: dim upsert incl. parent-location
        self-reference (parent referenced by its external code; NULL for
        roots)."""
        return self._store(df, TABLE_SPECS["location"])

    def store_species(self, species: DataFrame, common_names: DataFrame | None = None) -> DataFrame:
        """⟨pub⟩ R/store_species.R: multi-df input — species rows plus
        per-language common names keyed to the parent's natural key."""
        stored = self._store(species, TABLE_SPECS["species"])
        if common_names is not None:
            self._store(common_names, TABLE_SPECS["species_common_name"])
        return stored

    def store_datafield(self, datafield: DataFrame, datafield_type: DataFrame | None = None) -> DataFrame:
        """⟨pub⟩ R/store_datafield.R: stores ``datafield_type`` internally
        first (the reference's dependency ordering), then the datafields."""
        if datafield_type is not None:
            self.store_datafield_type(datafield_type)
        return self._store(datafield, TABLE_SPECS["datafield"])

    # --- fact upserts ------------------------------------------------------

    def store_observation(self, observation: DataFrame, datafield: DataFrame | None = None) -> DataFrame:
        """⟨pub⟩ R/store_observation.R (the richest fact-load path): resolves
        the datafield dependency first, then upserts observations keyed by
        (external_code, datafield) fingerprint; parent_observation is a
        self-reference by external code."""
        if datafield is not None:
            self.store_datafield(datafield)
        return self._store(observation, TABLE_SPECS["observation"])

    def store_anomaly(self, anomaly: DataFrame, anomaly_type: DataFrame | None = None) -> DataFrame:
        """⟨pub⟩ R/store_anomaly.R: fact insert with multi-parent resolution
        (type stored first; analysis/observation referenced by fingerprint)."""
        if anomaly_type is not None:
            self.store_anomaly_type(anomaly_type)
        return self._store(anomaly, TABLE_SPECS["anomaly"])

    # --- versioned entities (append-only) ---------------------------------

    def store_versioned_dim(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        compare_cols: list[str],
        batch_ts: str,
    ) -> DataFrame:
        """Versioned dimension upsert (beyond the reference surface, same
        idiom): stage the batch and run the full classic SCD2 merge —
        unchanged keys untouched, changed keys closed-and-reopened at
        ``batch_ts``, absent keys closed, new keys opened. Server-side SQL
        is sources.jdbc.sql_merge_scd2_changes; the pure-transform twin
        (operators.merge.merge_scd2_changes) is the oracle-checked
        semantics. The target table must carry valid_from/valid_to
        (VARCHAR, NULL = open). Validated like every other call: the
        columns are exactly ``keys + compare_cols``, keys non-NULL."""
        spec = TableSpec(table, tuple(keys), tuple(compare_cols), mode="scd2_changes")
        return self._store(df, spec, batch_ts=batch_ts)

    def store_analysis(self, analysis: DataFrame, versions: DataFrame | None = None) -> DataFrame:
        """⟨pub⟩ R/store_analysis.R: append-only version chain in FK order —
        analysis rows insert-if-absent, then analysis_version rows keyed to
        the parent fingerprint. 'Current' is derived (latest version), never
        stored."""
        stored = self._store(analysis, TABLE_SPECS["analysis"])
        if versions is not None:
            self._store(versions, TABLE_SPECS["analysis_version"])
        return stored
