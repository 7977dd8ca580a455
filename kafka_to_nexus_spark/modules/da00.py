"""W5 — da00 data-array (histograms): multi-variable frames.

The one genuinely schema-dynamic module. Config declares ``variables``
(time-varying, appended per message) and ``constants`` (written once and
consistency-checked); per-variable specs {name, unit, label, source,
data_type, axes, shape, data} may be *refined from the first message*;
bin edges may be explicit or a {first, last, size} linspace.

Reference: src/WriterModule/da00/da00_Writer.cpp:45-387 (refinement
:65-130), da00_Variable.h:87-532, da00_Edge.h:10-98, da00_Attribute.h;
documentation/writer_module_da00_dataarray.md.

Split per SURVEY.md §7: the config/refinement logic is pure Python (testable
without Spark); the data path is a per-variable-column DataFrame transform.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

ACCEPTS_REPEATED_TIMESTAMPS = False
DEFAULTS = {"cue_interval": 1000, "chunk_size": 1 << 20}


@dataclass
class VariableConfig:
    """One da00 variable spec (da00_Variable.h:87-200)."""

    name: str
    unit: str | None = None
    label: str | None = None
    source: str | None = None
    data_type: str | None = None
    axes: list[str] | None = None
    shape: list[int] | None = None
    data: object | None = None  # inline data → constant
    # fields filled in from the first message by refine_from (the
    # reference's "changed" signal, da00_Variable.h update_from)
    refined_fields: list[str] = field(default_factory=list)

    @classmethod
    def from_json(cls, spec: dict | str) -> "VariableConfig":
        if isinstance(spec, str):
            return cls(name=spec)
        return cls(
            name=spec["name"],
            unit=spec.get("unit"),
            label=spec.get("label"),
            source=spec.get("source"),
            data_type=spec.get("data_type") or spec.get("dtype"),
            axes=spec.get("axes"),
            shape=spec.get("shape"),
            data=spec.get("data"),
        )

    def refine_from(self, observed: "VariableConfig") -> list[str]:
        """First-message schema refinement: fill unset fields from the
        observed message (recorded in ``refined_fields`` — the reference's
        "changed" flag that drives its dataset update); report (don't fail
        on) mismatches of set fields — configured wins, like the
        reference's "Using configured value" path. Mirrors
        da00_Writer.cpp:65-130 / da00_Variable.h update_from."""
        warnings: list[str] = []
        self.refined_fields = []
        for f_name in ("unit", "label", "source", "data_type", "axes", "shape"):
            mine, theirs = getattr(self, f_name), getattr(observed, f_name)
            if theirs is None:
                continue
            if mine is None:
                setattr(self, f_name, theirs)
                self.refined_fields.append(f_name)
            elif mine != theirs:
                warnings.append(
                    f"{self.name}.{f_name}: configured {mine!r} != observed"
                    f" {theirs!r} — using configured value"
                )
        return warnings


def expand_edge(spec: dict | list) -> list[float]:
    """Bin-edge spec: explicit list, or {first, last, size} linspace
    (da00_Edge.h:10-62). size = number of edge points."""
    if isinstance(spec, list):
        return [float(x) for x in spec]
    first, last, size = float(spec["first"]), float(spec["last"]), int(spec["size"])
    if size == 1:
        return [first]
    step = (last - first) / (size - 1)
    return [first + i * step for i in range(size)]


@dataclass
class Da00Config:
    variables: list[VariableConfig] = field(default_factory=list)
    constants: list[VariableConfig] = field(default_factory=list)
    attributes: list[dict] = field(default_factory=list)

    @classmethod
    def from_json(cls, config: dict) -> "Da00Config":
        return cls(
            variables=[VariableConfig.from_json(v) for v in config.get("variables", [])],
            constants=[VariableConfig.from_json(v) for v in config.get("constants", [])],
            attributes=config.get("attributes", []),
        )


def transform(df: DataFrame, config: dict | None = None) -> dict[str, DataFrame]:
    """da00 data path.

    Multi-variable form (config declares ``variables``): one output row per
    message, pivoted to ``data_<name>`` columns — an explicit-values pivot
    over the exploded Variable structs, so Catalyst needs no extra
    value-discovery job and the shape is one shuffle on the message key
    (da00_Writer.cpp:210-287 appends each configured variable per message).

    Fixture single-variable form (no ``variables`` config): rows of
    (time, variable, axis, data), stacked by the sink."""
    cfg = Da00Config.from_json(config or {})
    if cfg.variables and "da00_variables" in df.columns:
        names = [v.name for v in cfg.variables]
        exploded = df.select(
            "partition",
            "offset",
            F.col("timestamp").alias("time"),
            F.explode("da00_variables").alias("v"),
        ).withColumn("vname", F.col("v.name"))
        frames = (
            exploded.filter(F.col("vname").isin(names))
            .groupBy("partition", "offset", "time")
            .pivot("vname", names)
            .agg(F.first("v.data"))
        )
        frames = frames.select(
            "time", *[F.col(n).alias(f"data_{n}") for n in names]
        )
        return {"frames": frames}
    out = df.select(
        F.col("timestamp").alias("time"),
        F.col("name").alias("variable"),
        F.col("axis_name").alias("axis"),
        F.col("data").alias("data"),
    )
    return {"frames": out}


def statics(
    df: DataFrame,
    config: dict | None = None,
    check_consistency: bool | None = None,
) -> dict[str, object]:
    """Constants: written once per job (da00_Writer.cpp constants path).
    Explicit ``data`` (list or {first,last,size} linspace — da00_Edge) wins;
    otherwise the constant is taken from the first message, refining the
    spec (update_from, da00_Writer.cpp:92-130). When the first message is
    fetched anyway, fully-configured constants are also verified against it
    and mismatches logged ("Data for constant X is not consistent",
    da00_Writer.cpp:101-107) — configured data still wins.

    ``check_consistency``: None (default) = verify only when the first
    message is already being fetched — the check is free in streaming
    (first batch) but would cost a full scan in batch mode when every
    constant is configured; True forces the scan for the reference's
    always-verify behavior; False skips verification entirely.

    Returns dataset-name → values for the job metadata surface; one
    single-row driver action at most."""
    cfg = Da00Config.from_json(config or {})
    out: dict[str, object] = {}
    need_first = [c for c in cfg.constants if c.data is None]
    if check_consistency is None:
        check_consistency = bool(need_first)
    first_by_name: dict[str, dict] = {}
    fetch = need_first or (check_consistency and cfg.constants)
    if fetch and "da00_variables" in df.columns:
        row = df.agg(
            F.min_by("da00_variables", F.struct("partition", "offset")).alias("first")
        ).collect()
        if row and row[0]["first"] is not None:
            for v in row[0]["first"]:
                first_by_name[v["name"]] = v.asDict()

    def _observed(c_name: str) -> VariableConfig:
        o = first_by_name[c_name]
        return VariableConfig(
            name=c_name,
            unit=o.get("unit"),
            label=o.get("label"),
            source=o.get("source"),
            data_type=o.get("data_type"),
            axes=list(o["axes"]) if o.get("axes") else None,
            shape=list(o["shape"]) if o.get("shape") else None,
        )

    for c in cfg.constants:
        if c.data is not None:
            out[c.name] = expand_edge(c.data)
            if check_consistency and c.name in first_by_name:
                for w in c.refine_from(_observed(c.name)):
                    log.info("da00 constant refinement: %s", w)
                observed_data = list(first_by_name[c.name].get("data") or [])
                if observed_data and observed_data != list(out[c.name]):
                    log.info(
                        "Data for constant %s is not consistent."
                        " Using configured value.", c.name,
                    )
        elif c.name in first_by_name:
            for w in c.refine_from(_observed(c.name)):
                log.info("da00 constant refinement: %s", w)
            out[c.name] = list(first_by_name[c.name].get("data") or [])
    return out


def statics_names(config: dict | None = None) -> list[str]:
    """Names of every constant the config declares — lets the streaming
    capture know when all constants have resolved (a data-less first
    message must not latch a missing constant forever)."""
    return [c.name for c in Da00Config.from_json(config or {}).constants]


def group_attributes(config: dict | None = None) -> list[dict]:
    """NXdata attribute synthesis (da00_Writer.cpp:140-227): configured
    attributes pass through; ``signal`` defaults to the first variable;
    ``axes`` defaults to the signal variable's axes; a variable signal gets
    the implicit leading ``time`` axis prepended."""
    cfg = Da00Config.from_json(config or {})
    attrs: list[dict] = []
    signal_name = None
    signal_is_variable = False
    var_names = {v.name: v for v in cfg.variables}
    for a in cfg.attributes:
        name = a.get("name")
        values = a.get("data", a.get("values"))
        attrs.append({"name": name, "values": values})
        if name == "signal" and isinstance(values, str):
            signal_name = values
            signal_is_variable = values in var_names
    if signal_name is None and cfg.variables:
        signal_name = cfg.variables[0].name
        signal_is_variable = True
        attrs.append({"name": "signal", "values": signal_name})
    if not any(a["name"] == "axes" for a in attrs):
        spec = var_names.get(signal_name)
        if spec is not None and spec.axes:
            attrs.append({"name": "axes", "values": list(spec.axes)})
    for a in attrs:
        if a["name"] == "axes" and signal_is_variable and isinstance(a["values"], list):
            a["values"] = ["time", *a["values"]]
    return attrs
