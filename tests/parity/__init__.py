"""Test-only references the production kernels are checked against."""
