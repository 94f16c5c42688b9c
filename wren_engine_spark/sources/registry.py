"""Physical source resolution.

The reference federates 20 backends by generating dialect SQL executed
remotely (ibis-server/app/model/data_source.py:262-530) and reads
local/object-store files through DataFusion ListingTable / DuckDB httpfs
(wren-core/core/src/mdl/mod.rs:104-167, ibis-server/app/model/utils.py).
On Spark the same surface is native: catalog tables (incl. JDBC/Iceberg/
Delta via catalogs), ``spark.read.{parquet,csv,json,orc}`` for files, and
``spark.read.jdbc`` for direct remote tables. This registry maps an MDL
``table_reference`` to a DataFrame.

Reference styles accepted:
  - ``scheme:path``   e.g. ``parquet:/data/orders.parquet``, ``csv:/x.csv``
  - plain path ending in .parquet/.csv/.json/.orc
  - bare/qualified table name -> resolved against registered directory
    sources first, then ``spark.table``.

At 100 TB the hot path is parquet/Delta on object storage: scans stay
splittable (file-level + row-group parallelism), filters/projections are
pushed to the footer level by Catalyst, and partition-column pruning
works when the dataset is written partitioned — nothing here collects to
the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from wren_engine_spark.sources.fstoken import local_path


class SourceError(ValueError):
    pass


class DirectorySource:
    """A directory of ``<table>.parquet`` (or csv/json) files, the layout
    of the driver testdata (TESTDATA.md)."""

    def __init__(self, path: str, fmt: str = "parquet"):
        self.path = path
        self.fmt = fmt

    def file_of(self, name: str) -> str | None:
        p = os.path.join(self.path, f"{name}.{self.fmt}")
        return p if os.path.exists(p) else None

    def resolve(self, spark: SparkSession, name: str) -> DataFrame | None:
        p = self.file_of(name)
        return None if p is None else _read(spark, self.fmt, p)


def _read(spark: SparkSession, fmt: str, path: str, **opts) -> DataFrame:
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


_EXT_FMT = {".parquet": "parquet", ".csv": "csv", ".json": "json", ".orc": "orc"}


class SourceRegistry:
    """Resolves MDL table references to DataFrames."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._dirs: list[DirectorySource] = []
        self._tables: dict[str, DataFrame] = {}
        self._jdbc: dict[str, tuple[str, dict[str, str]]] = {}

    def add_directory(self, path: str, fmt: str = "parquet") -> "SourceRegistry":
        self._dirs.append(DirectorySource(path, fmt))
        return self

    def add_dataframe(self, name: str, df: DataFrame) -> "SourceRegistry":
        self._tables[name.lower()] = df
        return self

    # ------------------------------------------------------------- JDBC

    def add_jdbc(
        self, alias: str, url: str, properties: dict[str, str] | None = None
    ) -> "SourceRegistry":
        """Register a remote JDBC backend under an alias (the Spark-native
        form of the reference's 20 data_source connections,
        ibis-server/app/model/data_source.py:262-530). ``properties`` are
        passed to ``spark.read.jdbc`` — credentials, ``driver``, and the
        scale knobs ``partitionColumn``/``lowerBound``/``upperBound``/
        ``numPartitions`` (without which Spark reads a remote table on a
        single task; with them the read fans out into range-parallel
        queries — the 100 TB ingest path)."""
        self._jdbc[alias.lower()] = (url, dict(properties or {}))
        return self

    def _read_jdbc(self, url: str, table: str, props: dict[str, str]) -> DataFrame:
        # "(SELECT ...) alias" subqueries and plain table names both go
        # through dbtable; Catalyst additionally pushes filters and
        # projections into the generated remote query (JDBCRelation
        # pushdown).
        reader = (
            self.spark.read.format("jdbc").option("url", url).option("dbtable", table)
        )
        for k, v in props.items():
            reader = reader.option(k, v)
        return reader.load()

    def resolve_sql(self, table_reference: str) -> str:
        """FROM-clause SQL text for a table reference (for dry-plan /
        CTE generation): file sources use Spark's direct-path syntax
        (``parquet.`/path```), catalog tables their name."""
        ref = table_reference.strip()
        scheme, _, rest = ref.partition(":")
        if scheme.lower() == "jdbc" and rest:
            # no FROM-path syntax for JDBC in Spark SQL; the dry-plan
            # text names the remote table (resolve() does the real read)
            return ref.rpartition("#")[2] or ref
        if scheme.lower() in ("parquet", "csv", "json", "orc") and rest:
            return f"{scheme.lower()}.`{rest}`"
        ext = os.path.splitext(ref)[1].lower()
        if ext in _EXT_FMT:
            return f"{_EXT_FMT[ext]}.`{ref}`"
        short = ref.split(".")[-1].strip('"`')
        for d in self._dirs:
            p = d.file_of(short)
            if p is not None:
                return f"{d.fmt}.`{p}`"
        return ref

    def local_path(self, table_reference: str) -> str | None:
        """The local file or directory ``resolve`` reads for a table
        reference, or None when it reads something with no local path:
        JDBC, an ``add_dataframe`` frame, a catalog table, or a
        non-local scheme (``s3a://`` ...). Result caches token this
        path to prove a stored result is still fresh."""
        ref = table_reference.strip()
        scheme, _, rest = ref.partition(":")
        if scheme.lower() == "jdbc" and rest:
            return None
        if scheme.lower() in _EXT_FMT.values() and rest:
            return local_path(rest)
        if os.path.splitext(ref)[1].lower() in _EXT_FMT:
            return local_path(ref)
        short = ref.split(".")[-1].strip('"`')
        if short.lower() in self._tables:
            return None
        for d in self._dirs:
            p = d.file_of(short)
            if p is not None:
                return local_path(p)
        return None

    def resolve(self, table_reference: str) -> DataFrame:
        ref = table_reference.strip()
        scheme, _, rest = ref.partition(":")
        if scheme.lower() == "jdbc" and rest:
            return self._resolve_jdbc(ref, rest)
        if scheme.lower() in ("parquet", "csv", "json", "orc") and rest:
            return _read(self.spark, scheme.lower(), rest)
        ext = os.path.splitext(ref)[1].lower()
        if ext in _EXT_FMT:
            return _read(self.spark, _EXT_FMT[ext], ref)
        # bare or catalog.schema.table name: try short name against
        # registered frames/directories, else the Spark catalog
        short = ref.split(".")[-1].strip('"`')
        if short.lower() in self._tables:
            return self._tables[short.lower()]
        for d in self._dirs:
            df = d.resolve(self.spark, short)
            if df is not None:
                return df
        try:
            return self.spark.table(ref)
        except Exception as e:  # noqa: BLE001
            raise SourceError(f"cannot resolve table reference {table_reference!r}: {e}") from e

    def _resolve_jdbc(self, ref: str, rest: str) -> DataFrame:
        """Two accepted jdbc forms:

        - ``jdbc:<alias>#<table>`` — alias registered via ``add_jdbc``
          (credentials/options live with the alias, not in the MDL);
        - ``jdbc:<full-jdbc-url>#<table>`` — direct URL, e.g.
          ``jdbc:derby:/tmp/db#events`` (the ``jdbc:`` prefix is part of
          the URL itself, so ``ref`` is passed whole).

        ``<table>`` may be ``(SELECT ...) q`` for remote pushdown.
        """
        head, sep, table = ref.rpartition("#")
        if not sep or not table:
            raise SourceError(
                f"jdbc reference {ref!r} must be jdbc:<alias-or-url>#<table>"
            )
        alias_or_url = head[len("jdbc:"):]
        if alias_or_url.lower() in self._jdbc:
            url, props = self._jdbc[alias_or_url.lower()]
        else:
            url, props = head, {}
        table = table.strip()
        if table.startswith("("):
            # pass the parenthesized subquery (with or without an alias)
            # through Spark's dbtable option as-is, adding an alias when
            # missing — never strip parens, nested subqueries keep their
            # balance. The balance scan is literal-aware: a paren inside
            # a string literal / quoted identifier does not count.
            from wren_engine_spark.plans.sqltext import CODE, lex

            depth, pos, close_at = 0, 0, None
            for text, kind in lex(table):
                if kind == CODE and close_at is None:
                    for off, ch in enumerate(text):
                        depth += ch == "("
                        depth -= ch == ")"
                        if depth == 0:
                            close_at = pos + off
                            break
                if close_at is not None:
                    break
                pos += len(text)
            if close_at is not None and table[close_at + 1:].strip() == "":
                # alias must be a plain identifier — some backends
                # (Derby) reject a leading underscore
                table = f"{table} wrenq0"
        try:
            return self._read_jdbc(url, table, dict(props))
        except Exception as e:  # noqa: BLE001
            raise SourceError(f"cannot read jdbc reference {ref!r}: {e}") from e

    def jdbc_metadata(
        self, alias: str, schema_pattern: str | None = None
    ) -> list[dict]:
        """Live table/column/primary-key metadata of a registered JDBC
        backend (reference per-backend metadata scraping,
        ibis-server/app/model/metadata/*): JDBC ``DatabaseMetaData``
        through the driver JVM — metadata is driver-side and tiny, no
        Spark job involved. Returns the reference's table-DTO shape:
        ``[{name, columns: [{name, type, nullable}], primaryKey}]``."""
        if alias.lower() not in self._jdbc:
            raise SourceError(f"unknown jdbc alias {alias!r}")
        url, props = self._jdbc[alias.lower()]
        jvm = self.spark.sparkContext._jvm
        if "driver" in props:
            jvm.java.lang.Class.forName(props["driver"])
        jprops = jvm.java.util.Properties()
        for k, v in props.items():
            if k != "driver":
                jprops.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            md = conn.getMetaData()
            # key by (schema, table): same-named tables in two schemas
            # must not merge, and getPrimaryKeys takes an EXACT schema
            # name (not a pattern — only getColumns accepts patterns)
            cols: dict[tuple[str, str], list[dict]] = {}
            rs = md.getColumns(None, schema_pattern, "%", "%")
            while rs.next():
                key = (rs.getString("TABLE_SCHEM") or "", rs.getString("TABLE_NAME"))
                cols.setdefault(key, []).append(
                    {
                        "name": rs.getString("COLUMN_NAME"),
                        "type": rs.getString("TYPE_NAME"),
                        # columnNoNulls=0; nullable=1 and unknown=2 both
                        # report nullable (the lenient reading)
                        "nullable": rs.getInt("NULLABLE") != 0,
                    }
                )
            rs.close()
            name_count: dict[str, int] = {}
            for _, t in cols:
                name_count[t] = name_count.get(t, 0) + 1
            out = []
            for sch, t in sorted(cols):
                pk_seq = []
                prs = md.getPrimaryKeys(None, sch or None, t)
                while prs.next():
                    pk_seq.append(
                        (prs.getInt("KEY_SEQ"), prs.getString("COLUMN_NAME"))
                    )
                prs.close()
                # JDBC returns PK rows ordered by COLUMN_NAME; key order
                # is KEY_SEQ
                pk = [name for _, name in sorted(pk_seq)]
                out.append(
                    {
                        # qualify only when the bare name is ambiguous
                        # (keeps the reference's flat-DTO shape for the
                        # common single-schema case)
                        "name": t if name_count[t] == 1 else f"{sch}.{t}",
                        "columns": cols[sch, t],
                        "primaryKey": pk[0] if len(pk) == 1 else (pk or None),
                    }
                )
            return out
        finally:
            conn.close()

    # ----------------------------------------------------- object store

    def configure_s3(
        self,
        endpoint: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
        region: str | None = None,
        path_style: bool = False,
        anonymous: bool = False,
    ) -> "SourceRegistry":
        """Configure Hadoop S3A so ``s3a://bucket/key`` paths resolve
        (reference: ibis-server/app/model/utils.py init_duckdb_s3).
        Runtime-settable — applies to reads issued after the call.

        At 100 TB this IS the hot path: S3A scans split by file and
        row-group exactly like local parquet; pair with
        ``fs.s3a.connection.maximum`` sized to executor count."""
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if endpoint:
            conf.set("fs.s3a.endpoint", endpoint)
        if access_key:
            conf.set("fs.s3a.access.key", access_key)
        if secret_key:
            conf.set("fs.s3a.secret.key", secret_key)
        if region:
            conf.set("fs.s3a.endpoint.region", region)
        if path_style:
            conf.set("fs.s3a.path.style.access", "true")
        if anonymous:
            conf.set(
                "fs.s3a.aws.credentials.provider",
                "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider",
            )
        return self

    def configure_minio(
        self, endpoint: str, access_key: str, secret_key: str
    ) -> "SourceRegistry":
        """MinIO = S3A with a custom endpoint + path-style addressing
        (reference init_duckdb_minio)."""
        return self.configure_s3(
            endpoint=endpoint,
            access_key=access_key,
            secret_key=secret_key,
            path_style=True,
        )

    def configure_gcs(self, keyfile: str | None = None) -> "SourceRegistry":
        """GCS connector configuration (reference init_duckdb_gcs).
        ``gs://`` needs the gcs-connector jar on the cluster classpath;
        the conf keys are set regardless so a properly-provisioned
        cluster picks them up."""
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        conf.set("fs.gs.impl", "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem")
        if keyfile:
            conf.set("google.cloud.auth.service.account.enable", "true")
            conf.set("google.cloud.auth.service.account.json.keyfile", keyfile)
        return self
