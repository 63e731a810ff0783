"""Checkpoint/resume: per-stage manifests with lineage + row counts."""

from .manifest import CheckpointManager, fingerprint  # noqa: F401
from .snapshots import SnapshotStore  # noqa: F401
