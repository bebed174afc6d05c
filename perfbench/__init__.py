"""Closed-loop benchmark of pyramidscheme_jl_spark; see README.md."""
