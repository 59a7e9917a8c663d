"""Test-only pure-Python oracles for the distributed operators."""
