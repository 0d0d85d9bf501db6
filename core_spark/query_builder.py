"""Fluent time-series query API — the engine's equivalent of the
reference's primary user-facing surface (time_series_query_builder.py:33,
queries/sql/sql_query.py:22).

Same builder shape and verb/parameter names, Spark-first execution: the
reference renders Jinja SQL strings and ships them to a SQL warehouse over
ODBC; here every verb composes the declarative DataFrame operators in
``operators.timeseries`` on a live SparkSession, so Catalyst sees one plan
per query (predicate pushdown into the source scan, broadcast dimension
joins, hash aggregates — see the operator docstrings for the per-verb plan
notes). The "connection" of the reference (connect(); DatabricksSQLConnection)
is the SparkSession itself; ``source`` accepts a DataFrame, a table name, or
a parquet/delta path (TSQB:82-125 rebindable source columns map to TSSpec).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import timeseries as tsq
from .operators.timeseries import TAG, TS, TSSpec, VAL

# time_string_parsing.py:8-26 parses "<n> <unit>" to milliseconds; query
# verbs take (time_interval_rate, time_interval_unit) pairs (TSQB:255-256).
_UNIT_SECONDS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def parse_time_interval(rate: str | int | float, unit: str) -> int:
    """(rate, unit) -> whole seconds (time_string_parsing.py:8-26; ms there,
    seconds here — the engine's buckets are second-aligned like the
    reference's generated sequences)."""
    u = _UNIT_SECONDS.get(str(unit).lower())
    if u is None:
        raise ValueError(f"time_interval_unit must be one of {sorted(set(_UNIT_SECONDS))}")
    total = float(rate) * u
    if total < 1 or total != int(total):
        raise ValueError(f"interval {rate} {unit} is not a whole number of seconds")
    return int(total)


class TimeSeriesQueryBuilder:
    """Fluent builder over the engine's time-series verbs (TSQB:33-1150).

    >>> df = (TimeSeriesQueryBuilder()
    ...       .connect(spark)
    ...       .source(events, tagname_column="event_type", timestamp_column="ts",
    ...               status_column=None, value_column="value")
    ...       .resample(tagname_filter=["click"], start_date="2024-01-01",
    ...                 end_date="2024-02-01", time_interval_rate="15",
    ...                 time_interval_unit="minute", agg_method="avg"))
    """

    def __init__(self) -> None:
        self.spark: SparkSession | None = None
        self.data_source: DataFrame | str | None = None
        self.spec = TSSpec()
        self.metadata_source: DataFrame | str | None = None
        self.metadata_tagname_column = "TagName"
        self.metadata_uom_column = "UoM"
        self.metadata_step_column = "Step"

    # ------------------------------------------------------------ plumbing

    def connect(self, connection: SparkSession) -> "TimeSeriesQueryBuilder":
        """The engine's connection is a SparkSession (TSQB:55-80's
        warehouse connection object)."""
        self.spark = connection
        return self

    def source(
        self,
        source: DataFrame | str,
        tagname_column: str = "TagName",
        timestamp_column: str = "EventTime",
        status_column: str | None = "Status",
        value_column: str = "Value",
    ) -> "TimeSeriesQueryBuilder":
        """Bind the event source + its column names (TSQB:82-125)."""
        self.data_source = source
        self.spec = TSSpec(
            tag_col=tagname_column,
            ts_col=timestamp_column,
            value_col=value_column,
            status_col=status_column,
        )
        return self

    def m_source(
        self,
        metadata_source: DataFrame | str,
        metadata_tagname_column: str = "TagName",
        metadata_uom_column: str = "UoM",
        metadata_step_column: str = "Step",
    ) -> "TimeSeriesQueryBuilder":
        """Bind the per-tag metadata dimension (TSQB:127-168); required for
        display_uom=True or step="metadata"."""
        self.metadata_source = metadata_source
        self.metadata_tagname_column = metadata_tagname_column
        self.metadata_uom_column = metadata_uom_column
        self.metadata_step_column = metadata_step_column
        return self

    def _resolve(self, src: DataFrame | str | None) -> DataFrame:
        if src is None:
            raise ValueError("call .source(...) first")
        if isinstance(src, DataFrame):
            return src
        if self.spark is None:
            raise ValueError("call .connect(spark) before using a named source")
        if "/" in src or src.endswith(".parquet"):
            return self.spark.read.parquet(src)
        return self.spark.table(src)

    def _events(self) -> DataFrame:
        return self._resolve(self.data_source)

    def _meta(self) -> DataFrame:
        if self.metadata_source is None:
            raise ValueError("display_uom/step='metadata' requires m_source(...)")
        return self._resolve(self.metadata_source)

    def _decorate_uom(self, out: DataFrame) -> DataFrame:
        """Broadcast the (small, per-tag) dimension onto the result
        (TSQB:430-462) — never a shuffle of the fact side."""
        dim = self._meta().select(
            F.col(self.metadata_tagname_column).cast("string").alias(TAG),
            F.col(self.metadata_uom_column).alias("UoM"),
        )
        return out.join(F.broadcast(dim), TAG, "left_outer")

    def _finish(
        self,
        out: DataFrame,
        sort: bool = True,
        limit: int | None = None,
        offset: int | None = None,
        order_cols: Sequence[str] = (TAG, TS),
        pivot: Sequence[str] | None = None,
        display_uom: bool = False,
    ) -> DataFrame:
        """Tail shared by every verb: ``pivot`` (the tag list) turns tags into
        columns and wins over ``display_uom``; then ORDER BY + LIMIT/OFFSET
        (TSQB:484-488). offset forces the sort (offset without a total order
        is undefined)."""
        if pivot is not None:
            out, order_cols = self._pivot(out, pivot), (TS,)
        elif display_uom:
            out = self._decorate_uom(out)
        if sort or offset is not None:
            out = out.orderBy(*[c for c in order_cols if c in out.columns])
        if offset is not None:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
        return out

    def _pivot(self, out: DataFrame, tags: Sequence[str]) -> DataFrame:
        """tagname -> columns over the verb RESULT (TSQB resample/interpolate
        pivot=True). Explicit tag list: no distinct-values pre-job, stable
        column order."""
        return (
            out.groupBy(TS)
            .pivot(TAG, list(tags))
            .agg(F.first(VAL))
            .orderBy(TS)
        )

    # --------------------------------------------------------------- verbs

    def raw(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        include_bad_data: bool = False,
        display_uom: bool = False,
        sort: bool = True,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Raw events in [start_date, end_date) (TSQB:170-249)."""
        out = tsq.raw(
            self._events(), self.spec, start_date, end_date, tagname_filter,
            include_bad=include_bad_data,
        )
        return self._finish(out, sort, limit, offset, display_uom=display_uom)

    def resample(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        agg_method: str,
        include_bad_data: bool = False,
        fill: bool = False,
        pivot: bool = False,
        display_uom: bool = False,
        sort: bool = True,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Time-bucket aggregate (TSQB:250-351); fill=True materializes
        empty buckets as NULL rows."""
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        if fill:
            out = tsq.resample_filled(
                self._events(), self.spec, every, start_date, end_date,
                agg_method, tagname_filter, include_bad_data,
            )
        else:
            out = tsq.resample(
                self._events(), self.spec, every, agg_method, start_date,
                end_date, tagname_filter, include_bad_data,
            )
        return self._finish(
            out, sort, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def plot(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        include_bad_data: bool = False,
        pivot: bool = False,
        display_uom: bool = False,
        sort: bool = True,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Min/Max/First/Last/Exception per bucket for plotting
        (TSQB:352-443), unpivoted tall like the reference's output."""
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        ohlc = tsq.plot_ohlc(
            self._events(), self.spec, every, start_date, end_date, tagname_filter
        )
        out = tsq.plot_unpivot(ohlc)
        return self._finish(
            out, sort, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def interpolate(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        include_bad_data: bool = False,
        pivot: bool = False,
        display_uom: bool = False,
        sort: bool = True,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Resample + fill empty buckets by linear interpolation (forward/
        back fill at the edges) (TSQB:444-537)."""
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        out = tsq.interpolate(
            self._events(), self.spec, every, start_date, end_date,
            method="linear", tags=tagname_filter, include_bad=include_bad_data,
        )
        return self._finish(
            out, sort, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def interpolation_at_time(
        self,
        tagname_filter: Sequence[str],
        timestamp_filter: Sequence[str],
        include_bad_data: bool = False,
        window_length: int = 1,
        pivot: bool = False,
        display_uom: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Linear interpolation at explicit timestamps (TSQB:538-621);
        window_length (days) bounds the before/after event search."""
        out = tsq.interpolate_at_time(
            self._events(), self.spec, timestamp_filter,
            window_length_seconds=window_length * 86400,
            tags=tagname_filter, include_bad=include_bad_data,
        )
        return self._finish(
            out, True, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def time_weighted_average(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        step: str | bool,
        source_metadata: DataFrame | str | None = None,
        include_bad_data: bool = False,
        window_length: int = 1,
        pivot: bool = False,
        display_uom: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Time-weighted average per bucket (TSQB:622-728). step is
        "true"/"false" (uniform) or "metadata": the per-tag Step flag from
        the metadata dimension routes each tag through the step or linear
        fill — two disjoint-tag aggregates unioned, not a per-row branch.
        """
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        ev = self._events()
        widen = window_length * 86400

        def run(tags: Sequence[str], stp: bool) -> DataFrame:
            return tsq.time_weighted_average(
                ev, self.spec, every, start_date, end_date, step=stp,
                tags=tags, widen_seconds=widen,
            )

        if isinstance(step, str) and step.lower() == "metadata":
            meta_src = source_metadata if source_metadata is not None else self.metadata_source
            if meta_src is None:
                raise ValueError('step="metadata" requires m_source/source_metadata')
            dim = self._resolve(meta_src)
            flags = {
                r["t"]: bool(r["s"])
                for r in dim.select(
                    F.col(self.metadata_tagname_column).cast("string").alias("t"),
                    F.col(self.metadata_step_column).cast("boolean").alias("s"),
                )
                .filter(F.col("t").isin(list(tagname_filter)))
                .collect()  # per-tag flags: |tagname_filter| rows, driver-safe
            }
            step_tags = [t for t in tagname_filter if flags.get(t, False)]
            lin_tags = [t for t in tagname_filter if not flags.get(t, False)]
            parts = [run(tags, stp) for tags, stp in ((step_tags, True), (lin_tags, False)) if tags]
            out = reduce(DataFrame.unionByName, parts)
        else:
            stp = step if isinstance(step, bool) else str(step).lower() == "true"
            out = run(tagname_filter, stp)
        return self._finish(
            out, True, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def metadata(
        self,
        tagname_filter: Sequence[str] | None = None,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Metadata rows, optionally filtered to tags (TSQB:729-779)."""
        out = self._meta()
        if tagname_filter is not None:
            out = out.filter(
                F.col(self.metadata_tagname_column).isin(list(tagname_filter))
            )
        return self._finish(out, True, limit, offset, (self.metadata_tagname_column,))

    def latest(
        self,
        tagname_filter: Sequence[str] | None = None,
        display_uom: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Newest event per tag (TSQB:780-845) — single-pass max_by."""
        out = tsq.latest(self._events(), self.spec, tags=tagname_filter)
        return self._finish(out, True, limit, offset, (TAG,), display_uom=display_uom)

    def circular_average(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        lower_bound: float,
        upper_bound: float,
        include_bad_data: bool = False,
        pivot: bool = False,
        display_uom: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Wrap-around mean of angular values per bucket (TSQB:846-944)."""
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        out = tsq.circular_average(
            self._events(), self.spec, every, lower_bound, upper_bound,
            start_date, end_date, tagname_filter, include_bad_data,
            fill=True,
        )
        return self._finish(
            out, True, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def circular_standard_deviation(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        lower_bound: float,
        upper_bound: float,
        include_bad_data: bool = False,
        pivot: bool = False,
        display_uom: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Circular stddev sqrt(-2 ln R), scaled to units (TSQB:945-1045)."""
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        out = tsq.circular_stddev(
            self._events(), self.spec, every, lower_bound, upper_bound,
            start_date, end_date, tagname_filter, include_bad_data,
            fill=True,
        )
        return self._finish(
            out, True, limit, offset,
            pivot=tagname_filter if pivot else None, display_uom=display_uom,
        )

    def summary(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        include_bad_data: bool = False,
        display_uom: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Per-tag descriptive statistics (TSQB:1046-1150)."""
        out = tsq.summary(
            self._events(), self.spec, start_date, end_date, tagname_filter,
            include_bad_data,
        )
        return self._finish(out, True, limit, offset, (TAG,), display_uom=display_uom)

    def percentiles(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        percentiles: Sequence[float] = (0.5, 0.9, 0.95, 0.99),
        include_bad_data: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Per-tag exact percentile family — engine extension of the
        summary verb (quantiles the reference lacks; type-7 linear
        interpolation, operators/timeseries.percentiles)."""
        out = tsq.percentiles(
            self._events(), self.spec, percentiles, start_date, end_date,
            tagname_filter, include_bad_data,
        )
        return self._finish(out, True, limit, offset, (TAG,))

    def top_k(
        self,
        tagname_filter: Sequence[str],
        start_date: str,
        end_date: str,
        time_interval_rate: str,
        time_interval_unit: str,
        k: int = 3,
        include_bad_data: bool = False,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """Top-k rows by value per (tag, bucket) — windowed generalization
        of the reference's k=1 argmax patterns (operators/timeseries
        .topk_by_bucket)."""
        every = parse_time_interval(time_interval_rate, time_interval_unit)
        out = tsq.topk_by_bucket(
            self._events(), self.spec, every, k, start_date, end_date,
            tagname_filter, include_bad_data,
        )
        return self._finish(out, True, limit, offset, (TAG, "bucket", "rank"))


class SQLQueryBuilder:
    """Raw-SQL escape hatch (queries/sql/sql_query.py:22-59): the reference
    ships the string to a warehouse; here it runs on the session's Catalyst
    with whatever temp views the caller registered."""

    def connect(self, connection: SparkSession) -> "SQLQueryBuilder":
        self.spark = connection
        return self

    def get(self, sql_query: str, limit: int | None = None, offset: int | None = None) -> DataFrame:
        out = self.spark.sql(sql_query)
        if offset is not None:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
        return out
