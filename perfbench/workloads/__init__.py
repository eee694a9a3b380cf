"""One module per benchmark workload; each defines ``Workload``."""
