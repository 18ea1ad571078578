"""Closed-loop benchmark of xarray_histogram_spark; see run.py."""
