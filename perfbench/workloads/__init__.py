"""The benchmark's workloads, by name."""

from workloads.bulk import BulkScanRollup
from workloads.corpus import CorpusCuration
from workloads.ingest import IngestUpdateTree
from workloads.render import RenderSmallTree

WORKLOADS = {
    w.name: w for w in (RenderSmallTree, BulkScanRollup, IngestUpdateTree, CorpusCuration)
}
