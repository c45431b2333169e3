"""Workload registry: name -> class."""

from image_bytes import ImageBytes
from typed_gate import TypedGate

WORKLOADS = {w.name: w for w in (TypedGate, ImageBytes)}
