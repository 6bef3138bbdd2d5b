"""Engine benchmark for parzig_spark (see perfbench/README.md)."""
