"""Job ("query") model — mirrors the reference's IRs.

IR chain (SURVEY.md §3.1): StartMessage → nexus_structure walk →
ModuleHDFInfo → ModuleSettings → Source list. Here the whole chain is one
pure-Python ``Plan`` produced by ``build_plan`` — no Spark involvement until
execution (planning is driver-side in the reference too).

Reference: src/CommandSystem/Commands.h:19-37 (Start/StopMessage),
src/ModuleHDFInfo.h, src/ModuleSettings.h, src/Source.h:21-43.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# StartMessage/StopMessage times are ms; envelope and payload times are ns.
MS_TO_NS = 1_000_000


@dataclass
class StartMessage:
    """pl72 RunStart equivalent (Commands.h:19-29). Times in ms."""

    job_id: str
    filename: str
    nexus_structure: dict
    metadata: str = ""
    start_time_ms: int = 0
    stop_time_ms: int | None = None  # None = +inf
    control_topic: str = ""
    instrument_name: str = ""
    service_id: str = ""


@dataclass
class StopMessage:
    """6s4t RunStop equivalent (Commands.h:32-37)."""

    job_id: str
    command_id: str = ""
    stop_time_ms: int | None = None  # None = now
    service_id: str = ""


@dataclass
class Attribute:
    path: str  # node the attribute attaches to
    name: str
    values: object
    dtype: str | None = None


@dataclass
class StaticDataset:
    path: str  # full dataset path
    values: object
    dtype: str | None = None
    shape: list[int] = field(default_factory=list)
    attributes: list[Attribute] = field(default_factory=list)


@dataclass
class Link:
    path: str  # link location (parent/name)
    target: str  # source path, may contain ../ traversal


@dataclass
class StreamBinding:
    """A scan+transform+sink leaf: one (topic, source, module) stream bound
    to an output group path (ModuleSettings equivalent)."""

    path: str  # HDF parent group path
    module: str  # writer module id (f144, ev44, ...)
    topic: str
    source: str
    config: dict = field(default_factory=dict)
    attributes: list[Attribute] = field(default_factory=list)

    @property
    def dtype(self) -> str:
        return self.config.get("dtype", self.config.get("type", "double"))


@dataclass
class MdatBinding:
    path: str
    items: list[str] = field(default_factory=list)


@dataclass
class Plan:
    """Everything needed to execute a job."""

    groups: list[str] = field(default_factory=list)  # group paths in creation order
    group_attributes: list[Attribute] = field(default_factory=list)
    static_datasets: list[StaticDataset] = field(default_factory=list)
    links: list[Link] = field(default_factory=list)
    streams: list[StreamBinding] = field(default_factory=list)
    mdat: list[MdatBinding] = field(default_factory=list)

    @property
    def topics(self) -> list[str]:
        """Distinct topics the job must subscribe to (F9 topic multiplexing;
        reference groups sources by topic, StreamController.cpp:109-151)."""
        return sorted({s.topic for s in self.streams})

    def streams_for_topic(self, topic: str) -> list[StreamBinding]:
        return [s for s in self.streams if s.topic == topic]
