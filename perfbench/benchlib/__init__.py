"""Helpers of the perfbench benchmark: fixtures, operations, oracles, tracing."""
