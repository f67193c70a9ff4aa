"""Application assembly: the reference's EP2 CLI chain
(Dockerfile:277-287 extract → clean → load → dashboard-prep) as one
lazy DataFrame chain — see app.pipeline.run_pipeline.
"""
